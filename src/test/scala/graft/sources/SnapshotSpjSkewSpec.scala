package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.SnapshotLog

/** The SKEW arm of storage-partitioned joins: plain key-grouping reads
  * ONE task per partition value — a hot day serializes onto one core.
  * With Spark's partially-clustered distribution the hot key's files
  * stay separate tasks on the bigger side while the other side's
  * groups replicate to match, and the join still plans zero Exchange.
  */
class SnapshotSpjSkewSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snskew",
      classOf[SnapshotCatalog].getName)
    "snskew"
  }

  /** Day-fanout pair: fact day 0 hot (~half the rows), 5 rows per key,
    * written in THREE commits (three files per present day) — the
    * clearly-LARGER side Spark's size heuristic leaves partially
    * clustered while the dim's groups replicate to match.
    */
  private def skewPair(tag: String): (String, String) = {
    import spark.implicits._
    val dir = graft.TempDirs.create(s"spjskew_$tag")
    val fact = dir.resolve("fact").toString
    val dim = dir.resolve("dim").toString
    def dayOf(k: Long): Long = if (k % 2 == 0) 0L else k % 8
    def ts(day: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(day * 86400L))
    withConfs("spark.graft.write.fanout" -> "true") {
      SnapshotLog.createTable(spark, fact,
        org.apache.spark.sql.types.StructType.fromDDL(
          "d TIMESTAMP, k BIGINT, pos BIGINT"),
        Seq(SnapshotLog.PartField("days", "d")))
      (0 to 2).foreach { slice =>
        SnapshotLog.append(spark, fact,
          (1L to 600L).filter(_ % 3 == slice)
            .flatMap(k => (0L to 4L).map(p => (ts(dayOf(k)), k, p)))
            .toDF("d", "k", "pos"))
      }
      SnapshotLog.createTable(spark, dim,
        org.apache.spark.sql.types.StructType.fromDDL(
          "d TIMESTAMP, k BIGINT, label STRING"),
        Seq(SnapshotLog.PartField("days", "d")))
      SnapshotLog.append(spark, dim,
        (1L to 600L).map(k => (ts(dayOf(k)), k, s"l$k"))
          .toDF("d", "k", "label"))
    }
    (fact, dim)
  }

  private def joinDf(fact: String, dim: String): DataFrame = spark.sql(
    s"""SELECT /*+ MERGE(f) */ f.d, f.k, f.pos, m.label
       |FROM $cat.`$fact` f JOIN $cat.`$dim` m
       |  ON f.d = m.d AND f.k = m.k""".stripMargin)

  test("the hot key splits across tasks while the join stays exchange-free") {
    val (fact, dim) = skewPair("split")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.catalog.preserveGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution" +
        ".enabled" -> "true",
      // one task per FILE within a key: the hot day's three files must
      // not bin-pack into one split, or there is nothing to cluster
      "spark.sql.files.maxPartitionBytes" -> "1",
      "spark.sql.files.openCostInBytes" -> "0") {
      val df = joinDf(fact, dim)
      val n = df.count()
      assert(n == 3000L)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"hinted merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"partially-clustered SPJ must not shuffle either side:\n$plan")
      // the join's task count exceeds the distinct-day count: the hot
      // day ran as MULTIPLE tasks (days present: {0,1,3,5,7} = 5;
      // fact files = 3 per day = 15)
      val days = 5
      val parts = df.queryExecution.toRdd.getNumPartitions
      assert(parts > days,
        s"hot key must split across tasks: $parts tasks for $days days")
      // row-level answer identical to the plain (non-SPJ) join
      assert(rowSet(df) == rowSet(
        SnapshotLog.read(spark, fact).as("f")
          .join(SnapshotLog.read(spark, dim).as("m"),
            col("f.d") === col("m.d") && col("f.k") === col("m.k"))
          .select(col("f.d"), col("f.k"), col("f.pos"), col("m.label"))))
    }
  }

  test("without partial clustering the same join reads one task per day") {
    val (fact, dim) = skewPair("merged")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.catalog.preserveGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "1",
      "spark.sql.files.openCostInBytes" -> "0") {
      val df = joinDf(fact, dim)
      assert(df.count() == 3000L)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(df.queryExecution.toRdd.getNumPartitions == 5,
        "plain key-grouping merges each day into one task")
    }
  }
}
