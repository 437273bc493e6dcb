package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Aggregate pushdown into the snapshot catalog: an unfiltered,
  * ungrouped COUNT(*)/MIN/MAX answers from the MANIFEST alone — the
  * physical plan is a LocalTableScan, zero data files opened (proven
  * the strong way: the data files are deleted and the query still
  * answers). Every condition that would make the metadata answer
  * inexact must refuse pushdown and fall back to a real scan.
  */
class SnapshotAggPushdownSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snagg",
      classOf[SnapshotCatalog].getName)
    "snagg"
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Three appends over (k BIGINT, v STRING, x DOUBLE, ts TIMESTAMP). */
  private def freshLog(tag: String): String = {
    import spark.implicits._
    val root = graft.TempDirs.create(s"aggpush_$tag").resolve("log").toString
    Seq(1L to 10L, 101L to 110L, 201L to 210L).foreach { ks =>
      SnapshotLog.append(spark, root,
        ks.map(k => (k, s"v$k", k * 0.5,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(k * 1000))))
          .toDF("k", "v", "x", "ts").coalesce(1))
    }
    root
  }

  private def isLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LocalTableScan") && !plan.contains("SnapshotBatchScan") &&
      !plan.contains("SnapshotScan ")
  }

  test("count/min/max answer from the manifest: LocalTableScan, survives data-file loss") {
    val root = freshLog("basic")
    val q = s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx, " +
      s"min(v) AS sv, max(x) AS mxx, min(ts) AS mnts FROM $cat.`$root`"
    val df = spark.sql(q)
    assert(isLocal(df), "pushed aggregate must plan as a local scan:\n" +
      df.queryExecution.executedPlan.toString)
    val r = df.head()
    assert(r.getLong(0) == 30L)
    assert(r.getLong(1) == 1L && r.getLong(2) == 210L)
    assert(r.getString(3) == "v1")
    assert(r.getDouble(4) == 105.0)
    assert(r.getTimestamp(5).toInstant ==
      java.time.Instant.ofEpochSecond(1000L))
    // strong form: the answer never touched the data files
    val f = fs(root)
    f.listStatus(new Path(s"$root/data")).foreach(d =>
      f.delete(d.getPath, true))
    val r2 = spark.sql(q).head()
    assert(r2.getLong(0) == 30L && r2.getLong(1) == 1L)
  }

  test("a WHERE clause refuses pushdown on the batch scan") {
    val root = freshLog("filtered")
    val df = spark.sql(
      s"SELECT count(*) AS n, max(k) AS mx FROM $cat.`$root` WHERE k < 100")
    assert(!isLocal(df), "filtered aggregate must scan rows")
    val r = df.head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 10L)
  }

  test("outstanding delete vectors refuse pushdown; counts stay exact") {
    val root = freshLog("mor")
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 2 === 0L)
    val df = spark.sql(s"SELECT count(*) AS n, max(k) AS mx FROM $cat.`$root`")
    assert(!isLocal(df), "DV-dirty snapshot must not answer from file rows")
    val r = df.head()
    assert(r.getLong(0) == 15L && r.getLong(1) == 209L)
    // compaction clears the vectors; pushdown comes back, same answer
    SnapshotLog.rewriteDeletes(spark, root)
    val df2 = spark.sql(s"SELECT count(*) AS n, max(k) AS mx FROM $cat.`$root`")
    assert(isLocal(df2), "post-compaction snapshot is clean again")
    val r2 = df2.head()
    assert(r2.getLong(0) == 15L && r2.getLong(1) == 209L)
  }

  test("non-point GROUP BY refuses; COUNT(col) answers from list null counts") {
    import spark.implicits._
    val root = freshLog("grouped")
    val g = spark.sql(
      s"SELECT v, count(*) AS n FROM $cat.`$root` GROUP BY v")
    assert(!isLocal(g), "v spans files: grouped pushdown must refuse")
    assert(g.count() == 30L)
    // COUNT(col) = rows − nulls from the manifest's list-level meta
    val c = spark.sql(s"SELECT count(v) AS n FROM $cat.`$root`")
    assert(isLocal(c), "null counts ride the manifest since the " +
      "column-meta revision")
    assert(c.head().getLong(0) == 30L)
    // nulls actually subtract: a nullable column counts its non-nulls
    val root2 = graft.TempDirs.create("aggpush_cnt").resolve("log").toString
    SnapshotLog.append(spark, root2,
      (1 to 20).map(i => (i.toLong, if (i % 4 == 0) null else s"v$i"))
        .toDF("k", "v").repartition(2))
    val c2 = spark.sql(s"SELECT count(v) AS n, count(*) AS a FROM $cat.`$root2`")
    assert(isLocal(c2))
    val r2 = c2.head()
    assert(r2.getLong(0) == 15L && r2.getLong(1) == 20L)
    // COUNT(DISTINCT col) is an estimate in the manifest: must refuse
    val cd = spark.sql(s"SELECT count(DISTINCT v) AS n FROM $cat.`$root2`")
    assert(!isLocal(cd))
    assert(cd.head().getLong(0) == 15L)
  }

  test("an all-null column refuses MIN pushdown (no stat recorded)") {
    import spark.implicits._
    val root = graft.TempDirs.create("aggpush_nulls").resolve("log").toString
    SnapshotLog.append(spark, root,
      Seq((1L, Option.empty[String]), (2L, None))
        .toDF("k", "v").coalesce(1))
    val df = spark.sql(s"SELECT min(v) AS mn FROM $cat.`$root`")
    assert(!isLocal(df),
      "all-null stat is indistinguishable from stats-off: must fall back")
    assert(df.head().isNullAt(0))
    // count(*) alone is still manifest-answerable on the same table
    val c = spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`")
    assert(isLocal(c))
    assert(c.head().getLong(0) == 2L)
  }

  test("time travel aggregates against the pinned manifest") {
    val root = freshLog("tt")
    val df = spark.sql(
      s"SELECT count(*) AS n, max(k) AS mx FROM $cat.`$root` VERSION AS OF 1")
    assert(isLocal(df))
    val r = df.head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 10L)
  }

  test("renamed columns aggregate through field ids") {
    val root = freshLog("rename")
    SnapshotLog.renameColumn(spark, root, "k", "key")
    val df = spark.sql(
      s"SELECT min(key) AS mn, max(key) AS mx FROM $cat.`$root`")
    assert(isLocal(df), "old files' stats resolve via their field ids")
    val r = df.head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 210L)
    // a column ADDED after the files were written: absent everywhere,
    // MIN is NULL and provably so (absent column = all NULL per file)
    SnapshotLog.addColumn(spark, root, "w",
      org.apache.spark.sql.types.StringType)
    val a = spark.sql(s"SELECT min(w) AS mn FROM $cat.`$root`")
    assert(isLocal(a), "absent-in-every-file column is exactly all-NULL")
    assert(a.head().isNullAt(0))
  }

  test("timestamp MIN/MAX pushdown is zone-proof (epoch-micros stats)") {
    val root = freshLog("zone")
    // stats record epoch micros — the Catalyst-internal value itself —
    // so ANY reader zone (DST region included) inverts them exactly
    // and the manifest keeps answering; the instants come back
    // unshifted
    val utc = spark.sql(
      s"SELECT min(ts) AS mn, max(ts) AS mx FROM $cat.`$root`").head()
    for (zone <- Seq("America/New_York", "+05:30")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      try {
        val df = spark.sql(
          s"SELECT min(ts) AS mn, max(ts) AS mx FROM $cat.`$root`")
        assert(isLocal(df), s"micros stats invert under $zone")
        val r = df.head()
        assert(r.getTimestamp(0).toInstant == utc.getTimestamp(0).toInstant)
        assert(r.getTimestamp(1).toInstant == utc.getTimestamp(1).toInstant)
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("GROUP BY a point-banded column pushes down: one row per partition value") {
    import spark.implicits._
    val root = graft.TempDirs.create("aggpush_grp").resolve("log").toString
    // fanout on days(d): every file covers exactly one d (the fixture
    // routes whole-day timestamps), so d is point-banded per file
    val prior = spark.conf.getOption("spark.graft.write.fanout")
    spark.conf.set("spark.graft.write.fanout", "true")
    try {
      SnapshotLog.createTable(spark, root,
        org.apache.spark.sql.types.StructType.fromDDL(
          "d TIMESTAMP, k BIGINT"),
        Seq(SnapshotLog.PartField("days", "d")))
      SnapshotLog.append(spark, root,
        (1L to 90L).map(k => (java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond((k % 3) * 86400L)), k))
          .toDF("d", "k"))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.write.fanout", v)
      case None => spark.conf.unset("spark.graft.write.fanout")
    }
    val df = spark.sql(
      s"""SELECT d, count(*) AS n, min(k) AS mn, max(k) AS mx
         |FROM $cat.`$root` GROUP BY d ORDER BY d""".stripMargin)
    assert(isLocal(df), "grouped pushdown must plan as a local scan:\n" +
      df.queryExecution.executedPlan.toString)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(1)).sum == 90L)
    // day 0 holds k % 3 == 0: min 3, max 90
    assert(rows(0).getTimestamp(0).toInstant ==
      java.time.Instant.ofEpochSecond(0L))
    assert(rows(0).getLong(2) == 3L && rows(0).getLong(3) == 90L)
    // the answer really is manifest-only: delete the data files
    val f = fs(root)
    SnapshotLog.snapshot(spark, root, SnapshotLog.currentId(spark, root))
      .files.foreach(e =>
        require(f.delete(new Path(s"$root/${e.path}"), false)))
    assert(spark.sql(s"SELECT d, count(*) AS n FROM $cat.`$root` GROUP BY d")
      .collect().length == 3)
    // a NON-point-banded grouping column still refuses (k spans files)
    val g2 = spark.sql(
      s"SELECT k, count(*) AS n FROM $cat.`$root` GROUP BY k")
    assert(!isLocal(g2), "k is not point-banded: must fall back")
  }

  test("NULL values in the grouping column refuse grouped pushdown") {
    import spark.implicits._
    val root = graft.TempDirs.create("aggpush_gnull").resolve("log").toString
    // ONE file whose d stats are a point (min/max skip nulls) but
    // which also holds a NULL-d row: a metadata answer would attribute
    // the null row to the point group and drop the NULL group — the
    // null-free guard (manifest column meta) must force the real scan
    val ts0 = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0L))
    SnapshotLog.append(spark, root,
      Seq((Option(ts0), 1L), (Option(ts0), 2L),
        (Option.empty[java.sql.Timestamp], 3L))
        .toDF("d", "k").coalesce(1))
    val df = spark.sql(
      s"""SELECT d, count(*) AS n, min(k) AS mn
         |FROM $cat.`$root` GROUP BY d ORDER BY d""".stripMargin)
    assert(!isLocal(df), "nullable grouping column must fall back:\n" +
      df.queryExecution.executedPlan.toString)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.exists(r => r.isNullAt(0) && r.getLong(1) == 1L &&
      r.getLong(2) == 3L), "the NULL group must surface")
    assert(rows.exists(r => !r.isNullAt(0) && r.getLong(1) == 2L &&
      r.getLong(2) == 1L))
  }

  test("a LEGACY datetime-rendered timestamp stat refuses inversion") {
    import org.apache.spark.sql.types.TimestampType
    // a legacy stat was rendered under the WRITER's session zone, which
    // the manifest never recorded — trusting the reader's zone would
    // hand back shifted values, so statValueOf refuses and the query
    // falls back to a scan; the current micros rendering inverts
    assert(SnapshotLog.statValueOf(TimestampType,
      "2023-01-02 03:04:05.123456").isEmpty)
    assert(SnapshotLog.statValueOf(TimestampType, "1672628645123456")
      .contains(java.lang.Long.valueOf(1672628645123456L)))
  }

  test("float->double widen refuses ULP-ambiguous MIN/MAX pushdown") {
    import spark.implicits._
    val root = graft.TempDirs.create("aggpush_widen").resolve("log").toString
    // 0.1f's stat renders "0.1"; after the metadata-only widen a
    // manifest re-parse under DoubleType would answer 0.1d where the
    // real scan's upcast answers 0.10000000149…d — the pushdown must
    // refuse and the scan answer must win
    SnapshotLog.append(spark, root,
      Seq((1L, 0.1f), (2L, 0.7f)).toDF("k", "x").coalesce(1))
    SnapshotLog.widenColumn(spark, root, "x",
      org.apache.spark.sql.types.DoubleType)
    val df = spark.sql(s"SELECT min(x) AS mn, max(x) AS mx FROM $cat.`$root`")
    assert(!isLocal(df), "float-ambiguous stat string: must scan")
    val r = df.head()
    assert(r.getDouble(0) == 0.1f.toDouble)
    assert(r.getDouble(1) == 0.7f.toDouble)
    // an unambiguous rendering (exact in both widths) still pushes down
    val root2 = graft.TempDirs.create("aggpush_widen2").resolve("log").toString
    SnapshotLog.append(spark, root2,
      Seq((1L, 0.5f), (2L, 2.0f)).toDF("k", "x").coalesce(1))
    SnapshotLog.widenColumn(spark, root2, "x",
      org.apache.spark.sql.types.DoubleType)
    val df2 = spark.sql(s"SELECT min(x) AS mn, max(x) AS mx FROM $cat.`$root2`")
    assert(isLocal(df2), "0.5/2.0 parse identically in both widths")
    val r2 = df2.head()
    assert(r2.getDouble(0) == 0.5d && r2.getDouble(1) == 2.0d)
  }

  test("library reads and SQL aggregates agree after an overwrite") {
    val root = freshLog("ow")
    import spark.implicits._
    SnapshotLog.overwrite(spark, root,
      (1L to 5L).map(k => (k, s"w$k", 1.0,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(k))))
        .toDF("k", "v", "x", "ts"))
    val df = spark.sql(s"SELECT count(*) AS n, max(v) AS mx FROM $cat.`$root`")
    assert(isLocal(df))
    val r = df.head()
    assert(r.getLong(0) == 5L && r.getString(1) == "w5")
  }
}
