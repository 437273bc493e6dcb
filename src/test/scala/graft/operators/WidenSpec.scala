package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Type widening by field id: a metadata-only commit records the wider
  * type; old narrow files upcast at the scan (this suite is also the
  * capability probe for Spark's parquet widening read), CoW and
  * changes() keep working across the widen, and lossy retypes refuse.
  */
class WidenSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_widen")
      .resolve("log").toString

  test("int->long and float->double widen metadata-only; both eras read wide") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1, 1.5f), (2, 2.5f)).toDF("i", "f"))
    SnapshotLog.widenColumn(spark, root, "i", LongType)
    SnapshotLog.widenColumn(spark, root, "f", DoubleType)
    // the widen wrote no data
    assert(SnapshotLog.snapshot(spark, root, 2L).files.map(_.path) ===
      SnapshotLog.snapshot(spark, root, 1L).files.map(_.path))
    SnapshotLog.append(spark, root, Seq((3L, 3.5d)).toDF("i", "f"))
    val got = SnapshotLog.read(spark, root)
    assert(got.schema("i").dataType === LongType)
    assert(got.schema("f").dataType === DoubleType)
    assert(got.as[(Long, Double)].collect().toSet ===
      Set((1L, 1.5d), (2L, 2.5d), (3L, 3.5d)))
    // time travel still shows the narrow era
    assert(SnapshotLog.read(spark, root, asOf = 1L)
      .schema("i").dataType === IntegerType)
  }

  test("CoW delete, changes(), and stat pruning survive a widen") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      (0 until 40).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")))
    SnapshotLog.widenColumn(spark, root, "k", LongType)
    SnapshotLog.deleteWhere(spark, root, col("k") === 35L)
    assert(SnapshotLog.read(spark, root).count() === 39L)
    // the diff across the widen+delete window is exactly the deletion
    val d = SnapshotLog.changes(spark, root, 1L, 3L)
      .as[(Long, String, String)].collect().toSeq
    assert(d === Seq((35L, "v35", "delete")))
    // narrow-era stats still prune (decimal compare is width-blind)
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("k", Some("5"), Some("8"))))
    assert(kept.size === 1)
    assert(SnapshotLog.readRange(spark, root, "k", Some("5"), Some("8"))
      .count() === 4L)
  }

  test("float-era stat bands keep the upcast boundary value (ULP slack)") {
    val root = newRoot()
    // two single-value files: 0.7f's stat renders "0.7", but the value
    // a post-widen scan produces is 0.699999988…d — BELOW the decimal
    // reading of the band. The float-ULP band slack must keep the file
    // for a point predicate at the true upcast value.
    SnapshotLog.append(spark, root,
      Seq((1L, 0.7f)).toDF("k", "x").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((2L, 100.5f)).toDF("k", "x").coalesce(1))
    SnapshotLog.widenColumn(spark, root, "x", DoubleType)
    val v = 0.7f.toDouble // 0.699999988079071
    val bound = v.toString
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("x", Some(bound), Some(bound))))
    assert(kept.size === 1, "slack keeps the 0.7f file, prunes the other")
    assert(SnapshotLog.readRange(spark, root, "x", Some(bound), Some(bound))
      .count() === 1L)
  }

  test("lossy retypes refuse; widen to same type is a no-op") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, 1.5d)).toDF("i", "f"))
    intercept[IllegalArgumentException] {
      SnapshotLog.widenColumn(spark, root, "i", IntegerType) // narrowing
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.widenColumn(spark, root, "f",
        org.apache.spark.sql.types.StringType)
    }
    assert(SnapshotLog.widenColumn(spark, root, "i", LongType) ===
      SnapshotLog.currentId(spark, root), "same-type widen must be a no-op")
  }
}
