package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Manifest equi-height histograms: per-file quantile boundaries
  * recorded at commit time, folded over the planned file set, served
  * through DSv2 column statistics — the range-selectivity feed that
  * corrects CBO where min/max-uniform misleads on skew.
  */
class SnapshotHistogramSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snhist",
      classOf[SnapshotCatalog].getName)
    "snhist"
  }

  private def newRoot(tag: String): String =
    graft.TempDirs.create(s"hist_$tag").resolve("log").toString

  /** 95% of w in [1,10], 5% spread over [0,2000). */
  private def skewed(tag: String, withHist: Boolean): String = {
    import spark.implicits._
    val root = newRoot(tag)
    SnapshotLog.append(spark, root,
      (1 to 2000).map(i => (i.toLong,
        if (i % 20 == 0) (i % 2000).toLong else (i % 10 + 1).toLong))
        .toDF("k", "w").repartition(2))
    // the control: the same commit as a table written before manifests
    // carried histograms (column meta kept)
    if (!withHist) LegacyStats.strip(spark, root, meta = false)
    root
  }

  test("recorded boundaries track the skew and survive the manifest round-trip") {
    val root = skewed("bounds", withHist = true)
    val raw = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root))
    val hist = SnapshotLog.subsetColHist(raw.files,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, w BIGINT"),
      Map("k" -> 1, "w" -> 2))
    // files carry their OWN ids stamp; resolve through the real ids
    assert(hist.contains("w"), s"histogram must fold, got ${hist.keySet}")
    val (nonNull, bs) = hist("w")
    assert(nonNull == 2000L)
    assert(bs.length == SnapshotLog.HistBins + 1)
    // 95% of mass ≤ 10: at least 13 of 17 boundaries sit in [0, 10]
    assert(bs.count(_ <= 10.0) >= 13,
      s"boundaries must concentrate where the mass is: $bs")
    assert(bs.last > 1900.0, "the tail must still reach the max region")
  }

  test("CBO keeps the shuffle join that uniform estimation would wrongly broadcast") {
    import spark.implicits._
    val dimHist = skewed("dimh", withHist = true)
    val dimBare = skewed("dimb", withHist = false)
    val fact = newRoot("fact")
    SnapshotLog.append(spark, fact,
      (1 to 20000).map(i => (i.toLong % 2000L, i.toLong)).toDF("k", "m")
        .repartition(4))
    val restore = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      def planOf(dim: String): String = spark.sql(
        s"""SELECT count(*) FROM $cat.`$fact` f
           |JOIN $cat.`$dim` d ON f.k = d.k
           |WHERE d.w <= 10""".stripMargin)
        .queryExecution.sparkPlan.toString
      // IDENTICAL data and confs; the only difference is whether the
      // manifests carry histograms. Uniform: (10-0)/2000 ≈ 0.5% → ~10
      // estimated rows → broadcast. Histogram: ~95% → ~1900 rows →
      // above the 4 KB threshold → shuffle join.
      val hp = planOf(dimHist)
      val bp = planOf(dimBare)
      assert(hp.contains("SortMergeJoin") && !hp.contains("BroadcastHashJoin"),
        s"histogram-informed plan must keep the shuffle join:\n$hp")
      assert(bp.contains("BroadcastHashJoin"),
        s"uniform-estimate plan broadcasts the mis-estimated dim:\n$bp")
      // and the answers agree regardless of plan
      val n1 = spark.sql(s"SELECT count(*) FROM $cat.`$fact` f " +
        s"JOIN $cat.`$dimHist` d ON f.k = d.k WHERE d.w <= 10").head().getLong(0)
      val n2 = spark.sql(s"SELECT count(*) FROM $cat.`$fact` f " +
        s"JOIN $cat.`$dimBare` d ON f.k = d.k WHERE d.w <= 10").head().getLong(0)
      assert(n1 == n2 && n1 > 0L)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pruned scans fold histograms from exactly the kept files") {
    import spark.implicits._
    val root = newRoot("pruned")
    // two disjoint-range commits: a k-range predicate prunes to one
    // file, whose histogram must cover ONLY that file's w values
    SnapshotLog.append(spark, root,
      (1 to 1000).map(i => (i.toLong, 5L)).toDF("k", "w").coalesce(1))
    SnapshotLog.append(spark, root,
      (1001 to 2000).map(i => (i.toLong, 1000L + i)).toDF("k", "w")
        .coalesce(1))
    val df = spark.sql(s"SELECT k, w FROM $cat.`$root` WHERE k <= 1000")
    val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
    assert(scan.keptFiles.size == 1 && scan.totalFiles == 2)
    val hist = SnapshotLog.subsetColHist(scan.keptFiles,
      scan.tableSchema, Map("k" -> 1, "w" -> 2))
    val (_, bs) = hist("w")
    assert(bs.forall(_ == 5.0),
      s"the dropped file's w range must not leak into the fold: $bs")
  }

  test("snap.t.stats serves the SAME boundaries CBO sees, " +
      "deterministically from a fixture commit") {
    import spark.implicits._
    val root = newRoot("sqlserve")
    SnapshotLog.append(spark, root,
      (1 to 1600).map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1))
    val got = spark.sql(
      s"SELECT histogram FROM $cat.`$root`.stats WHERE col_name = 'k'")
      .head().getSeq[Double](0)
    assert(got.length == SnapshotLog.HistBins + 1)
    assert(got.head == 1.0 && got.last == 1600.0,
      s"extreme boundaries are the exact min/max: $got")
    assert(got.sliding(2).forall(p => p(0) <= p(1)), s"monotone: $got")
    // uniform data: boundary j within GK tolerance of 1 + j*1599/16
    got.zipWithIndex.foreach { case (b, j) =>
      val exact = 1.0 + j * 1599.0 / SnapshotLog.HistBins
      assert(math.abs(b - exact) <= 4.0,
        s"boundary $j: got $b, uniform-exact $exact")
    }
    // the audit surface IS the CBO feed: identical to the scan's fold
    val fromScan = SnapshotLog.subsetColHist(
      SnapshotLog.snapshot(spark, root, 1L).files,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING"),
      Map("k" -> 1, "s" -> 2))("k")._2
    assert(got == fromScan, "stats table and CBO must see one histogram")
    // a string column serves NULL, not an empty array
    assert(spark.sql(
      s"SELECT histogram FROM $cat.`$root`.stats WHERE col_name = 's'")
      .head().isNullAt(0))
  }

  test("an all-null column and a string column record no histogram") {
    import spark.implicits._
    val root = newRoot("nulls")
    SnapshotLog.append(spark, root,
      Seq((1L, Option.empty[java.lang.Long], "a"),
        (2L, Option.empty[java.lang.Long], "b"))
        .toDF("k", "x", "s").coalesce(1))
    val files = SnapshotLog.snapshot(spark, root, 1L).files
    assert(files.forall(f => !f.hist.contains("x")),
      "NULL percentiles record nothing")
    assert(files.forall(f => !f.hist.contains("s")),
      "strings have no CBO double domain")
    assert(files.exists(_.hist.contains("k")))
  }
}
