package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Column-level statistics from manifest metadata: commit-time KMV NDV
  * sketches + null counts on the file-list lines, folded table-level
  * for the `snap.t.stats` table and the DSv2 scan's column statistics
  * — the feed that lets CBO flip a join's build side from genuine
  * cardinality instead of raw byte counts.
  */
class SnapshotColStatsSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.sncstat",
      classOf[SnapshotCatalog].getName)
    "sncstat"
  }

  private def newRoot(tag: String): String =
    graft.TempDirs.create(s"colstats_$tag").resolve("log").toString

  test("stats table reports exact counts, nulls, and small-NDV values") {
    import spark.implicits._
    val root = newRoot("exact")
    SnapshotLog.append(spark, root,
      (1 to 100).map(i => (i.toLong, s"s${i % 7}",
        if (i % 4 == 0) null else s"v${i % 3}"))
        .toDF("k", "a", "b").repartition(3))
    val out = spark.sql(s"SELECT * FROM $cat.`$root`.stats ORDER BY col_name")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") == ((100L, 0L, 7L)), "NDV exact below the sketch size")
    assert(out("b") == ((100L, 25L, 3L)), "nulls counted, excluded from NDV")
    // k has 100 distincts > sketch size 64: an ESTIMATE in regime
    val (kn, knull, kndv) = out("k")
    assert(kn == 100L && knull == 0L && kndv > 70L && kndv < 140L,
      s"k NDV estimate $kndv out of regime for 100")
  }

  test("sketches merge across commits; carried lists keep their meta") {
    import spark.implicits._
    val root = newRoot("merge")
    // three commits, overlapping value sets: NDV is NOT additive — the
    // union's distinct count is what the merged sketch must report
    SnapshotLog.append(spark, root,
      (1 to 30).map(i => (i.toLong, s"g${i % 10}")).toDF("k", "g"))
    SnapshotLog.append(spark, root,
      (31 to 60).map(i => (i.toLong, s"g${i % 20}")).toDF("k", "g"))
    SnapshotLog.append(spark, root,
      (61 to 90).map(i => (i.toLong, s"g${i % 5}")).toDF("k", "g"))
    val r = spark.sql(
      s"SELECT ndv, null_count FROM $cat.`$root`.stats WHERE col_name = 'g'")
      .head()
    assert(r.getLong(0) == 20L, "distinct of the union, not a sum")
    assert(r.getLong(1) == 0L)
    // k: 90 distinct > sketch size 64 — the estimate must be in the
    // right regime (KMV standard error ~12%), never the file count
    val kNdv = spark.sql(
      s"SELECT ndv FROM $cat.`$root`.stats WHERE col_name = 'k'")
      .head().getLong(0)
    assert(kNdv > 55L && kNdv < 140L, s"estimate $kNdv out of regime for 90")
  }

  test("high-cardinality NDV estimates within KMV error bounds") {
    import spark.implicits._
    val root = newRoot("est")
    SnapshotLog.append(spark, root,
      (1 to 20000).map(i => (i.toLong, i.toLong * 7L)).toDF("k", "v")
        .repartition(4))
    val est = spark.sql(
      s"SELECT ndv FROM $cat.`$root`.stats WHERE col_name = 'k'")
      .head().getLong(0)
    // 64-value KMV: ~12% standard error; accept 3 sigma
    assert(est > 13000L && est < 29000L, s"NDV estimate $est for 20000")
  }

  test("outstanding MoR deletes null the meta; bounds discipline holds") {
    import spark.implicits._
    val root = newRoot("mor")
    SnapshotLog.append(spark, root,
      (1 to 50).map(i => (i.toLong, s"x$i")).toDF("k", "v"))
    SnapshotLog.deleteWhereMoR(spark, root, col("k") <= 5L)
    val r = spark.sql(
      s"SELECT ndv, null_count FROM $cat.`$root`.stats WHERE col_name = 'k'")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1),
      "dead rows would overcount: metadata refuses, never lies")
  }

  test("CBO flips the build side when the manifest NDV says to") {
    import spark.implicits._
    def writeAll(withMeta: Boolean): (String, String, String) = {
      val tag = if (withMeta) "meta" else "bare"
      val (fact, dim, dim2) =
        (newRoot(s"fact_$tag"), newRoot(s"dimhi_$tag"), newRoot(s"dimlo_$tag"))
      SnapshotLog.append(spark, fact,
        (1 to 20000).map(i => (i.toLong % 2000L, i.toLong)).toDF("k", "m")
          .repartition(4))
      SnapshotLog.append(spark, dim,
        (1 to 2000).map(i => (i.toLong, s"L${i % 1000}")).toDF("k", "label")
          .repartition(2))
      SnapshotLog.append(spark, dim2,
        (1 to 2000).map(i => (i.toLong, s"T${i % 2}")).toDF("j", "tag")
          .repartition(2))
      // the control: the same commits as tables written before
      // manifests carried column meta or histograms
      if (!withMeta)
        Seq(fact, dim, dim2).foreach(LegacyStats.strip(spark, _, meta = true))
      (fact, dim, dim2)
    }
    def planOf(fact: String, dim: String, dim2: String): String =
      spark.sql(
        s"""SELECT count(*) FROM $cat.`$fact` f
           |JOIN $cat.`$dim` h ON f.k = h.k
           |JOIN $cat.`$dim2` l ON f.k = l.j
           |WHERE h.label = 'L5' AND l.tag = 'T0'""".stripMargin)
        .queryExecution.sparkPlan.toString
    val withMeta = writeAll(withMeta = true)
    val bare = writeAll(withMeta = false)
    val restore = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      // IDENTICAL data, confs, and 3-table query; the only difference
      // is whether the manifests carry column meta. Both dims estimate
      // ~2000 rows (over the 4 KB threshold) without stats; WITH them,
      // the hi-NDV equality shrinks its dim to ~2 estimated rows and
      // the whole plan pivots to broadcasts.
      val statsPlan = planOf(withMeta._1, withMeta._2, withMeta._3)
      val barePlan = planOf(bare._1, bare._2, bare._3)
      assert(statsPlan.contains("BroadcastHashJoin"),
        s"NDV-informed plan must broadcast the filtered dim:\n$statsPlan")
      assert(!barePlan.contains("BroadcastHashJoin") &&
        barePlan.contains("SortMergeJoin"),
        s"meta-less plan must keep shuffle joins:\n$barePlan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("range predicates estimate through manifest min/max (CBO flip)") {
    import spark.implicits._
    val fact = newRoot("rfact")
    val dim = newRoot("rdim")
    SnapshotLog.append(spark, fact,
      (1 to 20000).map(i => (i.toLong % 2000L, i.toLong)).toDF("k", "m")
        .repartition(4))
    // dim.w spans [1, 2000]; a `w <= 20` filter is 1% selective — CBO
    // can only know that from the manifest's folded band bounds
    SnapshotLog.append(spark, dim,
      (1 to 2000).map(i => (i.toLong, i.toLong)).toDF("k", "w")
        .repartition(2))
    val restore = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val plan = spark.sql(
        s"""SELECT count(*) FROM $cat.`$fact` f
           |JOIN $cat.`$dim` d ON f.k = d.k
           |WHERE d.w <= 20""".stripMargin)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"range-shrunk dim must broadcast:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("meta survives carry and rename; a REUSED name refuses") {
    import spark.implicits._
    val root = newRoot("carry")
    SnapshotLog.append(spark, root,
      (1 to 40).map(i => (i.toLong, s"c${i % 4}")).toDF("k", "c"))
    SnapshotLog.append(spark, root,
      (41 to 80).map(i => (i.toLong, s"c${i % 4}")).toDF("k", "c"))
    // second commit CARRIED the first list by reference — meta intact
    assert(spark.sql(
      s"SELECT ndv FROM $cat.`$root`.stats WHERE col_name = 'c'")
      .head().getLong(0) == 4L)
    // meta keys are FIELD IDS: a rename keeps the column's sketches
    SnapshotLog.renameColumn(spark, root, "c", "cat_col")
    assert(spark.sql(
      s"SELECT ndv FROM $cat.`$root`.stats WHERE col_name = 'cat_col'")
      .head().getLong(0) == 4L, "meta follows the field id through rename")
    // REUSING the old name mints a fresh id: old lists lack its key,
    // so the fold refuses — two different columns' sketches can never
    // merge under one name
    SnapshotLog.addColumn(spark, root, "c",
      org.apache.spark.sql.types.StringType)
    SnapshotLog.append(spark, root,
      (81 to 90).map(i => (i.toLong, "x", "fresh")).toDF("k", "cat_col", "c"))
    val r = spark.sql(
      s"SELECT ndv, null_count FROM $cat.`$root`.stats WHERE col_name = 'c'")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1),
      "reused name refuses until every list covers its fresh id")
    // COUNT(c) must fall back to a real scan, not rows - wrong-nulls
    val cnt = spark.sql(s"SELECT count(c) AS n FROM $cat.`$root`")
    assert(cnt.head().getLong(0) == 10L)
  }
}
