package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}

import graft.{SparkSpec, TempDirs}
import graft.operators.SnapshotLog

/** Equality deletes applied inside the snapshot batch scan's readers:
  * each case reads one eq-outstanding log through the library and
  * through SQL, and both must return the rows the delete leaves —
  * under key widening, float-key normalization, pruned key columns,
  * LIMIT, mixed-sequence task packing and claimed partition filters.
  */
class SnapshotEqReadSpec extends SparkSpec {

  import spark.implicits._

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapeq", classOf[SnapshotCatalog].getName)
    "snapeq"
  }

  private def newRoot(tag: String): String =
    TempDirs.create(s"eqread_$tag").resolve("log").toString

  private def sql(q: String): DataFrame = spark.sql(q)

  /** The library read and the SQL read of `root` after `project`. */
  private def bothReads(root: String, cols: String*): Seq[DataFrame] = {
    val lib = SnapshotLog.read(spark, root)
    val sqlDf = sql(s"SELECT * FROM $cat.`$root`")
    if (cols.isEmpty) Seq(lib, sqlDf)
    else Seq(lib.select(cols.map(col): _*), sqlDf.select(cols.map(col): _*))
  }

  test("a key column widened after the delete still matches its keys") {
    val root = newRoot("widen")
    SnapshotLog.append(spark, root,
      (1 to 10).map(k => (k, s"v$k")).toDF("k", "v"))
    SnapshotLog.deleteWhereEqual(spark, root, Seq(2, 3).toDF("k"))
    SnapshotLog.widenColumn(spark, root, "k", LongType)
    // appended after the delete: the same key survives
    SnapshotLog.append(spark, root, Seq((2L, "new")).toDF("k", "v"))
    val want = rowSet((Seq((1L, "v1"), (2L, "new")) ++
      (4 to 10).map(k => (k.toLong, s"v$k"))).toDF("k", "v"))
    bothReads(root).foreach { df =>
      assert(df.schema("k").dataType === LongType)
      assert(rowSet(df) === want)
    }
  }

  test("double keys match 0.0 with -0.0 and NaN with NaN") {
    val root = newRoot("double")
    SnapshotLog.append(spark, root,
      Seq((Some(0.0), "pos0"), (Some(-0.0), "neg0"), (Some(Double.NaN), "nan"),
        (Some(1.5), "one5"), (None, "null")).toDF("d", "v").coalesce(1))
    SnapshotLog.deleteWhereEqual(spark, root,
      Seq(-0.0, Double.NaN).toDF("d"))
    bothReads(root, "v").foreach(df =>
      assert(rowSet(df) === rowSet(Seq("one5", "null").toDF("v"))))
  }

  test("a projection without the key column drops the deleted rows") {
    val root = newRoot("proj")
    SnapshotLog.append(spark, root,
      (1 to 12).map(k => (k.toLong, k % 4, s"v$k")).toDF("o_orderkey",
        "o_custkey", "v").repartition(2))
    SnapshotLog.deleteWhereEqual(spark, root, Seq(1L, 2L, 3L).toDF("o_orderkey"))
    val want = rowSet((4 to 12).map(_ % 4).toDF("o_custkey"))
    assert(rowSet(sql(s"SELECT o_custkey FROM $cat.`$root`")) === want)
    assert(rowSet(SnapshotLog.read(spark, root).select("o_custkey")) === want)
  }

  test("LIMIT n on an eq-outstanding table returns n rows") {
    val root = newRoot("limit")
    Seq(1 to 10, 11 to 20, 21 to 30).foreach(ks =>
      SnapshotLog.append(spark, root,
        ks.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)))
    // the first file keeps one live row of its ten
    SnapshotLog.deleteWhereEqual(spark, root, (1 to 9).toDF("k"))
    val df = sql(s"SELECT * FROM $cat.`$root` LIMIT 5")
    assert(df.count() === 5L)
    assert(df.collect().map(_.getInt(0)).forall(_ >= 10))
    assert(SnapshotLog.read(spark, root).limit(5).count() === 5L)
  }

  test("one task packs files the delete applies to with files appended after it") {
    val root = newRoot("packed")
    SnapshotLog.append(spark, root,
      (1 to 10).map(k => (k, "old")).toDF("k", "v").coalesce(1))
    SnapshotLog.deleteWhereEqual(spark, root, Seq(3, 4).toDF("k"))
    SnapshotLog.append(spark, root,
      (3 to 5).map(k => (k, "new")).toDF("k", "v").coalesce(1))
    val sqlDf = sql(s"SELECT * FROM $cat.`$root`")
    assert(SnapshotCatalog.scanOf(sqlDf).planInputPartitions().length === 1,
      "two small files pack into one task")
    val want = rowSet(((1 to 10).filterNot(Set(3, 4)).map(k => (k, "old")) ++
      (3 to 5).map(k => (k, "new"))).toDF("k", "v"))
    bothReads(root).foreach(df => assert(rowSet(df) === want))
  }

  test("a claimed partition filter on a fanout table applies the eq delete") {
    val root = newRoot("claimed")
    val prior = spark.conf.getOption("spark.graft.write.fanout")
    spark.conf.set("spark.graft.write.fanout", "true")
    def day(n: Long) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(n * 86400L))
    try {
      SnapshotLog.createTable(spark, root,
        StructType.fromDDL("d TIMESTAMP, k BIGINT"),
        Seq(SnapshotLog.PartField("days", "d")))
      SnapshotLog.append(spark, root,
        (1L to 30L).map(k => (day(k % 3), k)).toDF("d", "k"))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.write.fanout", v)
      case None => spark.conf.unset("spark.graft.write.fanout")
    }
    SnapshotLog.deleteWhereEqual(spark, root, Seq(1L, 4L, 5L).toDF("k"))
    val where = "d = TIMESTAMP '1970-01-02 00:00:00'"
    val sqlDf = sql(s"SELECT k FROM $cat.`$root` WHERE $where")
    val plan = sqlDf.queryExecution.executedPlan
    assert(plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      s"the day filter is claimed, no residual Filter:\n$plan")
    val want = rowSet((7L to 28L by 3L).toDF("k"))
    assert(rowSet(sqlDf) === want)
    assert(rowSet(SnapshotLog.read(spark, root)
      .filter(col("d") === day(1)).select("k")) === want)
    // the count answers from rows, not from the manifest's row counts
    assert(sql(s"SELECT count(*) FROM $cat.`$root` WHERE $where")
      .head().getLong(0) === 8L)
  }
}
