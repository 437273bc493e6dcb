package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.operators.SnapshotLog
import graft.operators.SnapshotLog.PartField

/** The data-file writer's roll: under a declared partition spec, a
  * fanout library append and a SQL INSERT (the DSv2 batch write) both
  * leave every file holding exactly one value of the transform, rows
  * with a null key included, and each file's manifest band is that
  * point (absent for a file of null keys, whose transform is null).
  */
class SnapshotFileWriterSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snroll", classOf[SnapshotCatalog].getName)
    "snroll"
  }

  private val schema = StructType.fromDDL("k BIGINT, s STRING, ts TIMESTAMP")

  /** 240 rows over ~70 days, every transform column null on some rows. */
  private def rows = spark.range(240).select(
    when(col("id") % 17 === 0, lit(null)).otherwise(col("id") * 7 - 300)
      .cast("long").as("k"),
    when(col("id") % 13 === 0, lit(null))
      .otherwise(concat(lit("p"), (col("id") % 9).cast("string"), lit("x"),
        col("id").cast("string"))).as("s"),
    when(col("id") % 11 === 0, lit(null))
      .otherwise(timestamp_micros(lit(1704067200000000L) +
        col("id") * lit(7L * 3600000000L + 123456789L))).as("ts"))

  /** Each field, the stat key its band records, and the transform as
    * an independent SQL expression (UTC sessions).
    */
  private val fields: Seq[(PartField, String, Column)] = Seq(
    (PartField("bucket", "k", 4), "__bucket:k:4", pmod(hash(col("k")), lit(4))),
    (PartField("days", "ts"), "__part:days:ts",
      datediff(to_date(col("ts")), lit("1970-01-01"))),
    (PartField("hours", "ts"), "__part:hours:ts",
      floor(unix_micros(col("ts")) / lit(3600000000L))),
    (PartField("months", "ts"), "__part:months:ts",
      (year(col("ts")) - 1970) * 12 + month(col("ts")) - 1),
    (PartField("trunc", "s", 2), "__part:trunc:s:2", substring(col("s"), 1, 2)),
    (PartField("trunc", "k", 10), "__part:trunc:k:10", col("k") - pmod(col("k"), lit(10L))))

  private def assertRolled(root: String, f: PartField, stat: String,
      t: Column): Unit = {
    val files = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files
    assert(files.map(_.rows).sum === 240L, s"$f: every row written once")
    val values = files.map { fe =>
      val vs = spark.read.parquet(s"$root/${fe.path}").select(t.as("t"))
        .distinct().collect().map(r => Option(r.get(0)).map(_.toString))
      assert(vs.length === 1, s"$f: ${fe.path} holds ${vs.toSeq}")
      assert(fe.stats.get(stat) === vs.head.map(v => (v, v)),
        s"$f: ${fe.path}'s band is not its point ${vs.head}")
      vs.head
    }
    assert(values.contains(None) || f.transform == "bucket",
      s"$f: no file of null keys")
    assert(values.distinct.size > 1, s"$f: the write never rolled")
  }

  test("a fanout library append rolls one file per transform value, nulls included") {
    for ((f, stat, t) <- fields) {
      val root = graft.TempDirs.create("roll_lib").resolve("log").toString
      SnapshotLog.createTable(spark, root, schema, Seq(f))
      withConfs("spark.graft.write.fanout" -> "true") {
        SnapshotLog.append(spark, root, rows.repartition(3))
      }
      assertRolled(root, f, stat, t)
    }
  }

  test("a SQL INSERT rolls one file per transform value, nulls included") {
    rows.repartition(3).createOrReplaceTempView("roll_src")
    for ((f, stat, t) <- fields) {
      val root = graft.TempDirs.create("roll_sql").resolve("log").toString
      SnapshotLog.createTable(spark, root, schema, Seq(f))
      spark.sql(s"INSERT INTO $cat.`$root` SELECT * FROM roll_src")
      assertRolled(root, f, stat, t)
    }
  }
}
