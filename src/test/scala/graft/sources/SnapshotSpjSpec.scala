package graft.sources

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Storage-partitioned joins over co-bucketed snapshot tables: fanout
  * writes give every data file a single bucket value, the scan reports
  * KeyGroupedPartitioning(bucket(n, col)), the catalog serves the V2
  * bucket function, and Spark elides BOTH shuffles from the join.
  */
class SnapshotSpjSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snspj",
      classOf[SnapshotCatalog].getName)
    "snspj"
  }

  private val Buckets = 4

  /** Fanout on for `body`, the session's OWN prior value restored
    * after — set-or-unset, never a blanket unset. */
  private def withFanout[T](body: => T): T = {
    val prior = spark.conf.getOption("spark.graft.write.fanout")
    spark.conf.set("spark.graft.write.fanout", "true")
    try body
    finally prior match {
      case Some(v) => spark.conf.set("spark.graft.write.fanout", v)
      case None => spark.conf.unset("spark.graft.write.fanout")
    }
  }

  /** Two co-bucketed fanout tables over the same key domain. */
  private def freshPair(tag: String): (String, String) = {
    import spark.implicits._
    val dir = graft.TempDirs.create(s"spj_$tag")
    val fact = dir.resolve("fact").toString
    val dim = dir.resolve("dim").toString
    withFanout {
      SnapshotLog.createTable(spark, fact,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, amount BIGINT"),
        Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
      SnapshotLog.append(spark, fact,
        (1L to 400L).map(k => (k, k * 10L)).toDF("k", "amount"))
      SnapshotLog.createTable(spark, dim,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, label STRING"),
        Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
      SnapshotLog.append(spark, dim,
        (1L to 400L).map(k => (k, s"l$k")).toDF("k", "label"))
    }
    (fact, dim)
  }

  /** Final-plan string AFTER execution — AQE re-plans, so assertions
    * read the executed shape, not the initial wrapper. */
  private def finalPlan(df: DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  private def withSpj[T](f: => T): T = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.graft.catalog.preserveGrouping", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.graft.catalog.preserveGrouping")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("fanout writes produce point bucket bands; the scan key-groups") {
    val (fact, _) = freshPair("bands")
    withSpj {
      val df = spark.sql(s"SELECT * FROM $cat.`$fact`")
      val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
      assert(scan.keptFiles.nonEmpty)
      val part = scan.outputPartitioning()
      assert(part.isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning],
        s"fanout layout must key-group: $part")
      // every input partition carries a key, and the keys cover the
      // bucket domain
      val keys = scan.toBatch.planInputPartitions().map(
        _.asInstanceOf[SnapshotFilePartition].partitionKey().getLong(0))
      assert(keys.forall(k => k >= 0 && k < Buckets))
      assert(keys.distinct.sorted.toSeq == (0L until Buckets.toLong))
      assert(df.count() == 400L)
      assert(rowSet(df) == rowSet(SnapshotLog.read(spark, fact)))
    }
  }

  test("co-bucketed join elides both shuffles and matches the plain join") {
    val (fact, dim) = freshPair("join")
    withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ f.k, f.amount, d.label
           |FROM $cat.`$fact` f JOIN $cat.`$dim` d ON f.k = d.k""".stripMargin)
      val plan = finalPlan(df)
      assert(plan.contains("SortMergeJoin"), s"hinted merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join must not shuffle either side:\n$plan")
      assert(df.count() == 400L)
      assert(df.filter("k = 7").head().getString(2) == "l7")
    }
  }

  test("without opting in, a plain scan never key-groups (keeps task parallelism)") {
    val (fact, dim) = freshPair("off")
    // Spark's bucketing conf defaults TRUE in Spark 4; the graft-side
    // preserveGrouping opt-in (unset here) must keep grouping off so a
    // plain scan reads one task per FILE, not one per bucket
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ f.k, d.label
           |FROM $cat.`$fact` f JOIN $cat.`$dim` d ON f.k = d.k""".stripMargin)
      val plan = finalPlan(df)
      assert(plan.contains("Exchange hashpartitioning"),
        s"conf off: the ordinary shuffled join:\n$plan")
      assert(df.count() == 400L)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a range-clustered (non-fanout) table refuses SPJ: bands span buckets") {
    import spark.implicits._
    val dir = graft.TempDirs.create("spj_wide")
    val t = dir.resolve("t").toString
    // default writer: one file per task over a range-clustered frame
    // coalesced to 2 files over 4 buckets — bands cannot all be points
    SnapshotLog.createTable(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT"),
      Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
    SnapshotLog.append(spark, t,
      (1L to 400L).map(k => (k, k)).toDF("k", "v").coalesce(2))
    withSpj {
      val df = spark.sql(s"SELECT * FROM $cat.`$t`")
      val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
      // 2 files over 4 buckets: at least one file spans buckets, so the
      // whole scan must refuse key-grouping (a lying key would silently
      // co-locate rows of different buckets)
      assert(scan.outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning],
        "multi-bucket files must not key-group")
      assert(df.count() == 400L)

      // CALL optimize_partitioned adopts the fanout layout in one
      // commit — the same table then key-groups, same rows
      spark.sql(s"CALL $cat.system.optimize_partitioned('$t')").collect()
      val df2 = spark.sql(s"SELECT * FROM $cat.`$t`")
      val scan2 = SnapshotCatalog.scanOf(df2).asInstanceOf[SnapshotBatchScan]
      assert(scan2.outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning],
        "post-rewrite layout must key-group")
      assert(df2.count() == 400L)
      assert(rowSet(df2) == rowSet(df))
    }
  }

  test("SPJ survives merge-on-read deletes: per-file vectors keep keys") {
    val (fact, dim) = freshPair("mor")
    SnapshotLog.deleteWhereMoR(spark,
      fact, org.apache.spark.sql.functions.col("k") % 5 === 0L)
    withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ f.k, d.label
           |FROM $cat.`$fact` f JOIN $cat.`$dim` d ON f.k = d.k""".stripMargin)
      val plan = finalPlan(df)
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"DVs drop rows per file; bucket membership is unchanged:\n$plan")
      assert(df.count() == 320L)
    }
  }

  test("GROUP BY the bucket column aggregates without a shuffle") {
    val (fact, _) = freshPair("agg")
    withSpj {
      val df = spark.sql(
        s"""SELECT k, sum(amount) AS s
           |FROM $cat.`$fact` GROUP BY k""".stripMargin)
      val plan = finalPlan(df)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"same-key rows are co-located; the aggregate needs no exchange:\n" +
          plan)
      assert(df.count() == 400L)
      assert(df.filter("k = 3").head().getLong(1) == 30L)
    }
  }

  test("co-day-fanout tables join with zero Exchange (days SPJ)") {
    import spark.implicits._
    val dir = graft.TempDirs.create("spj_days")
    val fact = dir.resolve("fact").toString
    val dim = dir.resolve("dim").toString
    def tsOf(k: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond((k % 4) * 86400L + k))
    withFanout {
      SnapshotLog.createTable(spark, fact,
        org.apache.spark.sql.types.StructType.fromDDL(
          "ts TIMESTAMP, amount BIGINT"),
        Seq(SnapshotLog.PartField("days", "ts")))
      SnapshotLog.append(spark, fact,
        (1L to 200L).map(k => (tsOf(k), k)).toDF("ts", "amount"))
      SnapshotLog.createTable(spark, dim,
        org.apache.spark.sql.types.StructType.fromDDL(
          "ts TIMESTAMP, label STRING"),
        Seq(SnapshotLog.PartField("days", "ts")))
      SnapshotLog.append(spark, dim,
        (1L to 200L).map(k => (tsOf(k), s"l$k")).toDF("ts", "label"))
    }
    withSpj {
      val scan = SnapshotCatalog.scanOf(
        spark.sql(s"SELECT * FROM $cat.`$fact`"))
        .asInstanceOf[SnapshotBatchScan]
      assert(scan.outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning],
        "day-fanout layout must key-group")
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ f.ts, f.amount, d.label
           |FROM $cat.`$fact` f JOIN $cat.`$dim` d ON f.ts = d.ts""".stripMargin)
      val plan = finalPlan(df)
      assert(plan.contains("SortMergeJoin"), s"hinted merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"day-partitioned join must not shuffle either side:\n$plan")
      assert(df.count() == 200L)
      // MULTI-KEY join (day + another equi-pair): Spark's co-partition
      // check requires partition keys to cover ALL clustering keys
      // unless requireAllClusterKeysForCoPartition relaxes it to the
      // subset case — days(ts) ⊆ {ts, amount}
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
        "false")
      try {
        val df2 = spark.sql(
          s"""SELECT /*+ MERGE(f) */ f.ts, f.amount
             |FROM $cat.`$fact` f JOIN $cat.`$dim` d
             |  ON f.ts = d.ts AND f.amount = CAST(substring(d.label, 2, 10) AS BIGINT)
             |""".stripMargin)
        val plan2 = finalPlan(df2)
        assert(!plan2.contains("Exchange hashpartitioning"),
          s"subset co-partitioning must hold the day grouping:\n$plan2")
        assert(df2.count() == 200L)
      } finally
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
    }
  }

  test("co-trunc-fanout string tables join with zero Exchange") {
    import spark.implicits._
    val dir = graft.TempDirs.create("spj_trunc")
    val fact = dir.resolve("fact").toString
    val dim = dir.resolve("dim").toString
    withFanout {
      SnapshotLog.createTable(spark, fact,
        org.apache.spark.sql.types.StructType.fromDDL(
          "s STRING, amount BIGINT"),
        Seq(SnapshotLog.PartField("trunc", "s", 1)))
      SnapshotLog.append(spark, fact,
        (1L to 120L).map(k => (s"${('a' + (k % 3).toInt).toChar}_$k", k))
          .toDF("s", "amount"))
      SnapshotLog.createTable(spark, dim,
        org.apache.spark.sql.types.StructType.fromDDL(
          "s STRING, label STRING"),
        Seq(SnapshotLog.PartField("trunc", "s", 1)))
      SnapshotLog.append(spark, dim,
        (1L to 120L).map(k => (s"${('a' + (k % 3).toInt).toChar}_$k", s"l$k"))
          .toDF("s", "label"))
    }
    withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ f.s, f.amount, d.label
           |FROM $cat.`$fact` f JOIN $cat.`$dim` d ON f.s = d.s""".stripMargin)
      val plan = finalPlan(df)
      assert(plan.contains("SortMergeJoin"), s"hinted merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"trunc-partitioned join must not shuffle either side:\n$plan")
      assert(df.count() == 120L)
    }
  }

  test("MISMATCHED partition value sets still join exchange-free (pushPartValues)") {
    import spark.implicits._
    val dir = graft.TempDirs.create("spj_miss")
    val fact = dir.resolve("fact").toString
    val dim = dir.resolve("dim").toString
    withFanout {
      SnapshotLog.createTable(spark, fact,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT"),
        Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
      SnapshotLog.append(spark, fact,
        (1L to 400L).map(k => (k, k)).toDF("k", "v"))
      SnapshotLog.createTable(spark, dim,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, l STRING"),
        Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
      // the dim holds only keys hashing into HALF the bucket domain:
      // its fanout layout covers fewer partition values than the fact's
      val dimKeys = (1L to 400L).toDF("k")
        .withColumn("b", org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(
            org.apache.spark.sql.functions.col("k")),
          org.apache.spark.sql.functions.lit(Buckets)))
        .filter("b < 2").select("k").as[Long].collect().toSeq
      SnapshotLog.append(spark, dim,
        dimKeys.map(k => (k, s"l$k")).toDF("k", "l"))
    }
    withSpj {
      val dimScan = SnapshotCatalog.scanOf(
        spark.sql(s"SELECT * FROM $cat.`$dim`"))
        .asInstanceOf[SnapshotBatchScan]
      val dimParts = dimScan.toBatch.planInputPartitions().length
      assume(dimParts < Buckets, "fixture must under-cover the domain")
      // Spark's pushPartValues (v2 bucketing, default on in Spark 4)
      // aligns the two sides' partition value sets by filling the
      // missing ones — the join stays exchange-free even though the
      // dim never wrote some buckets
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ f.k, f.v, d.l
           |FROM $cat.`$fact` f JOIN $cat.`$dim` d ON f.k = d.k""".stripMargin)
      val plan = finalPlan(df)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"value-set mismatch must not force a shuffle:\n$plan")
      assert(df.count() > 0L && df.count() < 400L)
    }
  }

  test("fanout writes bound file counts: the routing shuffle co-locates tuples") {
    import spark.implicits._
    // the append path range-partitions rows by the transform exprs
    // BEFORE the dynamic-partitioned write, so a wide input frame
    // (16 tasks over 4 buckets) still lands ~one file per bucket —
    // without that routing every task would fan into a file per value
    // it sees (100k small files per 1000-task commit at cluster scale)
    val t = graft.TempDirs.create("spj_dist").resolve("t").toString
    withFanout {
      SnapshotLog.createTable(spark, t,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT"),
        Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
      SnapshotLog.append(spark, t,
        (1L to 400L).map(k => (k, k)).toDF("k", "v").repartition(16))
    }
    val files = SnapshotLog.snapshot(spark, t,
      SnapshotLog.currentId(spark, t)).files
    assert(files.size == Buckets,
      s"expected one file per bucket, got ${files.size}")
    assert(SnapshotLog.read(spark, t).count() == 400L)
  }

  test("a fanout append of an empty frame commits zero files, not a crash") {
    import spark.implicits._
    val t = graft.TempDirs.create("spj_empty").resolve("t").toString
    withFanout {
      SnapshotLog.createTable(spark, t,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT"),
        Seq(SnapshotLog.PartField("bucket", "k", Buckets)))
      SnapshotLog.append(spark, t,
        (1L to 20L).map(k => (k, k)).toDF("k", "v"))
      // the no-new-rows ETL tick: dynamic partitioning emits no files
      SnapshotLog.append(spark, t,
        Seq.empty[(Long, Long)].toDF("k", "v"))
    }
    assert(SnapshotLog.read(spark, t).count() == 20L)
  }

  test("the V2 bucket function matches the writer's routing hash") {
    import org.apache.spark.sql.catalyst.InternalRow
    val bound = SnapshotBucketFunction.bind(
      org.apache.spark.sql.types.StructType.fromDDL("n INT, c BIGINT"))
      .asInstanceOf[SnapshotBucketBound]
    val expected = spark.range(1, 100)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.col("id")),
        org.apache.spark.sql.functions.lit(Buckets)).cast("long").as("b"))
      .collect().map(_.getLong(0))
    (1L until 100L).zip(expected).foreach { case (k, e) =>
      assert(bound.produceResult(InternalRow(Buckets, k)) == e,
        s"bucket($Buckets, $k)")
    }
  }
}
