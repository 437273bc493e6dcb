package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SnapshotLog._

/** Hidden partitioning: a declared transform spec routes writes and
  * prunes reads from RAW predicates, with spec evolution touching only
  * future files — the Iceberg behavior, proven the repo's strong way
  * (pruned files deleted from disk, read still answers).
  */
class HiddenPartitionSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  /** Spec-routed writes go through `repartitionByRange(exprs)` with no
    * explicit count, so AQE sizes the output files — at scale that is
    * the point (clustered AND right-sized), but a two-row test append
    * coalesces to ONE file and there is nothing to prune. Disable the
    * coalescing for the staging writes that need >1 file.
    */
  private def multiFile[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  private def tsDf(days: Seq[Int]): DataFrame = {
    import spark.implicits._
    days.flatMap(d => Seq((d.toLong * 10 + 1, d), (d.toLong * 10 + 2, d)))
      .toDF("k", "d")
      .withColumn("ts", timestamp_micros(col("d") * lit(86400000000L) +
        col("k") * lit(1000000L)))
      .drop("d")
  }

  test("point read prunes on the bucket transform band of a bloomed table") {
    val root = graft.TempDirs.create("hp_point").resolve("log").toString
    val df = spark.range(0, 400)
      .select(col("id").as("k"), (col("id") % 10).as("g"))
    multiFile {
      appendPartitioned(spark, root, df.filter(col("k") < 200),
        Seq(PartField("bucket", "k", 4)))
      // blooms on g only: for a point on k the stat band keeps every
      // era-2 file, so only the bucket band can narrow them
      appendBloomed(spark, root, df.filter(col("k") >= 200),
        BloomSpec(Seq("g")))
    }
    val v = 250L
    val expected = rowSet(read(spark, root).filter(col("k") === v))
    val snap = resolve(spark, root)
    val kept = boxFiles(snap, Seq(("k", Some(v.toString), Some(v.toString))))
    val statOnly = snap.files.filter(f => f.rows > 0 &&
      f.stats.get("k").forall { case (mn, mx) => mn.toLong <= v && v <= mx.toLong })
    val bucket = bucketOfValue(org.apache.spark.sql.types.LongType,
      v.toString, 4).get
    assert(kept.nonEmpty && kept.size < statOnly.size,
      s"bucket band must prune the point read: ${kept.size}/${statOnly.size}")
    assert(kept.forall(f => f.stats.get("__bucket:k:4").forall {
      case (lo, hi) => lo.toLong <= bucket && bucket <= hi.toLong }))
    // the strong form: every pruned file deleted, the read still answers
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keptPaths = kept.map(_.path).toSet
    snap.files.filterNot(f => keptPaths(f.path))
      .foreach(f => fs.delete(new Path(s"$root/${f.path}"), false))
    assert(rowSet(readPoint(spark, root, "k", v)) == expected)
    assert(expected.size == 1)
  }

  test("days(ts) spec routes appends and survives file deletion on a narrow read") {
    val root = graft.TempDirs.create("hp_days").resolve("log").toString
    appendPartitioned(spark, root, tsDf(Seq(0, 50, 100)),
      Seq(PartField("days", "ts")))
    assert(partitionSpecOf(spark, root) == Seq(PartField("days", "ts")))
    // plain append consults the declared spec — no caller-side routing
    append(spark, root, tsDf(Seq(200, 250)))
    val kept = boxFiles(resolve(spark, root),
      Seq(("ts", Some("1970-02-20 00:00:00"), Some("1970-02-21 00:00:00"))))
    val all = resolve(spark, root).files
    assert(kept.size < all.size, "day-band pruning must skip files")
    // the STRONG form: delete every pruned file from disk — the read
    // must still answer, proving those files were never planned
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keptPaths = kept.map(_.path).toSet
    all.filterNot(f => keptPaths(f.path))
      .foreach(f => fs.delete(new Path(s"$root/${f.path}"), false))
    val got = readBox(spark, root,
      Seq(("ts", Some("1970-02-20 00:00:00"), Some("1970-02-21 00:00:00"))))
      .select("k").orderBy("k")
    assert(rowSet(got) == Seq(Seq("501"), Seq("502")))
  }

  test("bucket spec prunes a point predicate through the SQL catalog") {
    import spark.implicits._
    val root = graft.TempDirs.create("hp_bucket").resolve("log").toString
    multiFile { appendPartitioned(spark, root,
      (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq(PartField("bucket", "k", 8))) }
    spark.conf.set("spark.sql.catalog.snapcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    val df = spark.sql(s"SELECT v FROM snapcat.`$root` WHERE k = 7")
    val scan = graft.sources.SnapshotCatalog.scanOf(df)
    assert(scan.keptFiles.size < scan.totalFiles,
      s"bucket pruning must skip files (${scan.keptFiles.size}/${scan.totalFiles})")
    assert(rowSet(df) == Seq(Seq("v7")))
  }

  test("bucketOfValue matches Spark's bucket expression for longs and strings") {
    import spark.implicits._
    val longs = Seq(-9999999L, -7L, 0L, 1L, 42L, 123456789L, Long.MaxValue)
    val lGot = longs.map(v => bucketOfValue(
      org.apache.spark.sql.types.LongType, v.toString, 16).get)
    val lExp = longs.toDF("k")
      .select(pmod(hash(col("k")), lit(16)).cast("long")).as[Long].collect().toSeq
    assert(lGot == lExp)
    val strs = Seq("", "a", "hello", "snapshot-log", "ünïcödé €")
    val sGot = strs.map(v => bucketOfValue(
      org.apache.spark.sql.types.StringType, v, 16).get)
    val sExp = strs.toDF("k")
      .select(pmod(hash(col("k")), lit(16)).cast("long")).as[Long].collect().toSeq
    assert(sGot == sExp)
  }

  test("spec evolution: changing the spec affects only new files") {
    val root = graft.TempDirs.create("hp_evolve").resolve("log").toString
    appendPartitioned(spark, root, tsDf(Seq(0, 100)),
      Seq(PartField("days", "ts")))
    setPartitionSpec(spark, root,
      Seq(PartField("trunc", "k", 1000)))
    assert(partitionSpecOf(spark, root) == Seq(PartField("trunc", "k", 1000)))
    append(spark, root, tsDf(Seq(300)))
    // old files keep their days stats (prune on ts), new files carry
    // trunc(k) stats (prune on k) — both eras prune under THEIR spec
    val tsKept = boxFiles(resolve(spark, root),
      Seq(("ts", Some("1970-01-01 00:00:00"), Some("1970-01-02 00:00:00"))))
    assert(tsKept.forall(f =>
      f.stats.keys.exists(_.startsWith("__part:days:")) || f.rows == 0))
    val kKept = boxFiles(resolve(spark, root),
      Seq(("k", Some("3001"), Some("3002"))))
    val all = resolve(spark, root).files
    assert(kKept.size < all.size)
    assert(readBox(spark, root, Seq(("k", Some("3001"), Some("3002"))))
      .count() == 2L)
  }

  test("rename keeps the spec bound to the column; rollback restores the old spec") {
    val root = graft.TempDirs.create("hp_rename").resolve("log").toString
    appendPartitioned(spark, root, tsDf(Seq(0, 10)),
      Seq(PartField("days", "ts")))
    renameColumn(spark, root, "ts", "event_ts")
    assert(partitionSpecOf(spark, root) == Seq(PartField("days", "event_ts")))
    // writes after the rename still route (under the new name)
    append(spark, root, tsDf(Seq(20)).withColumnRenamed("ts", "event_ts"))
    val kept = boxFiles(resolve(spark, root),
      Seq(("event_ts", Some("1970-01-21 00:00:00"), Some("1970-01-22 00:00:00"))))
    val all = resolve(spark, root).files
    assert(kept.size < all.size)
    val specId = 1L
    rollback(spark, root, specId)
    assert(partitionSpecOf(spark, root) == Seq(PartField("days", "ts")))
  }

  test("CoW delete re-derives transform stats on rewritten files") {
    val root = graft.TempDirs.create("hp_cow").resolve("log").toString
    multiFile {
      appendPartitioned(spark, root, tsDf(Seq(0, 100)),
        Seq(PartField("days", "ts")))
      deleteWhere(spark, root, col("k") === 1001L)
    }
    val all = resolve(spark, root).files
    assert(all.filter(_.rows > 0).forall(f =>
      f.stats.keys.exists(_.startsWith("__part:days:"))),
      "rewritten files must keep the transform stat")
    val kept = boxFiles(resolve(spark, root),
      Seq(("ts", Some("1970-04-11 00:00:00"), Some("1970-04-12 00:00:00"))))
    assert(kept.size < all.size)
  }

  test("string trunc spec prunes prefix ranges") {
    import spark.implicits._
    val root = graft.TempDirs.create("hp_trunc").resolve("log").toString
    multiFile { appendPartitioned(spark, root,
      Seq("alpha", "amber", "bravo", "beta", "zeta", "zulu")
        .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("k", "v"),
      Seq(PartField("trunc", "v", 1))) }
    val kept = boxFiles(resolve(spark, root), Seq(("v", Some("ba"), Some("bz"))))
    val all = resolve(spark, root).files
    assert(kept.size < all.size)
    assert(readBox(spark, root, Seq(("v", Some("ba"), Some("bz"))))
      .count() == 2L)
  }

  test("tt27's staged events fixture prunes its two-day window from day bands") {
    val root = SnapshotLogQueries.partitionLog(spark, graft.TestSpark.Sf0001)
    val kept = boxFiles(resolve(spark, root), Seq(("ts",
      Some("2024-01-10 00:00:00"), Some("2024-01-11 23:59:59"))))
    val all = resolve(spark, root).files
    assert(kept.size < all.size,
      s"the registry row's window must skip files (${kept.size}/${all.size})")
    assert(kept.forall(f => f.rows == 0 ||
      f.stats.keys.exists(_.startsWith("__part:days:"))))
  }

  test("hours(ts) spec prunes an hour window, pre-1970 included") {
    import spark.implicits._
    val root = graft.TempDirs.create("hp_hours").resolve("log").toString
    // three files in disjoint hours, one of them pre-epoch (negative
    // micros exercise the floor-div sign handling on BOTH sides)
    val rows = Seq(-5L, 3L, 100L).zipWithIndex.flatMap { case (h, i) =>
      Seq((i * 10L + 1, h * 3600000000L + 60000000L),
        (i * 10L + 2, h * 3600000000L + 120000000L))
    }
    multiFile {
      appendPartitioned(spark, root,
        rows.toDF("k", "us").withColumn("ts", timestamp_micros(col("us")))
          .drop("us"),
        Seq(PartField("hours", "ts")))
    }
    val kept = boxFiles(resolve(spark, root),
      Seq(("ts", Some("1970-01-01 03:00:00"), Some("1970-01-01 03:59:59"))))
    val all = resolve(spark, root).files
    assert(kept.size < all.size)
    assert(readBox(spark, root,
      Seq(("ts", Some("1970-01-01 03:00:00"), Some("1970-01-01 03:59:59"))))
      .count() == 2L)
    // the pre-epoch window prunes and answers too
    assert(readBox(spark, root,
      Seq(("ts", Some("1969-12-31 19:00:00"), Some("1969-12-31 19:59:59"))))
      .count() == 2L)
  }

  test("a SQL timestamp range over the catalog prunes through day bands") {
    val root = SnapshotLogQueries.partitionLog(spark, graft.TestSpark.Sf0001)
    spark.conf.set("spark.sql.catalog.snapcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    val df = spark.sql(
      s"""SELECT event_id FROM snapcat.`$root`
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts <= TIMESTAMP '2024-01-11 23:59:59'""".stripMargin)
    val scan = graft.sources.SnapshotCatalog.scanOf(df)
    assert(scan.keptFiles.size < scan.totalFiles,
      s"SQL ts range must prune (${scan.keptFiles.size}/${scan.totalFiles})")
    val direct = SnapshotLog.readBox(spark, root, Seq(("ts",
      Some("2024-01-10 00:00:00"), Some("2024-01-11 23:59:59"))))
    assert(df.count() == direct.count())
  }

  test("catalog reports the spec through DSv2 partitioning") {
    val root = graft.TempDirs.create("hp_report").resolve("log").toString
    appendPartitioned(spark, root, tsDf(Seq(0)),
      Seq(PartField("days", "ts"), PartField("bucket", "k", 4)))
    spark.conf.set("spark.sql.catalog.snapcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    val t = new graft.sources.SnapshotCatalog() {
      initialize("snapcat", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty, root))
    assert(t.partitioning().map(_.toString).toSeq ==
      Seq("days(ts)", "bucket(4, k)"))
  }
}
