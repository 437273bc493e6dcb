package graft.operators

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import java.nio.file.Files

/** The scale techniques must be provably equivalent (salting) and
  * provably shuffle-free / pruned (bucketing, partitioning) — asserted
  * on the physical plans, not just the results.
  */
class ScaleTechniquesSpec extends SparkSpec {

  private def events = graft.Tables(spark, TestSpark.Sf0001, "events")

  test("salted two-phase aggregation equals the direct groupBy exactly") {
    val direct = events.groupBy(col("user_id").as("_key"))
      .agg(count(lit(1)).as("n"))
    val salted = ScaleTechniques.saltedAgg(events, col("user_id"), 8,
      Seq((count(lit(1)), (c: String) => sum(col(c)), "n")))
    assert(rowSet(salted) === rowSet(direct))
  }

  test("salted aggregation spreads a single hot key over salt buckets") {
    // one key carrying 100k rows — the all-in-one-reducer scenario
    val hot = spark.range(100000).select(lit("hot").as("k"), col("id"))
      .unionAll(spark.range(50).select(lit("cold").as("k"), col("id")))
    val out = ScaleTechniques.saltedAgg(hot, col("k"), 8, Seq(
      (count(lit(1)), (c: String) => sum(col(c)), "n"),
      (sum(col("id")), (c: String) => sum(col(c)), "total")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("hot")._1 === 100000L)
    assert(out("hot")._2 === (0L until 100000L).sum)
    assert(out("cold")._1 === 50L)
  }

  test("salted join equals the plain join and spreads the hot key") {
    // one hot key carrying 100k fact rows against a 60-row dim side
    val fact = spark.range(100000).select(lit(1L).as("k"), col("id").as("payload"))
      .unionAll(spark.range(500).select((col("id") % 50 + 2).as("k"), col("id").as("payload")))
    val dim = spark.range(60).select(col("id").as("dk"), (col("id") * 10).as("v"))
    val plain = fact.join(dim, col("k") === col("dk"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val salted = ScaleTechniques
      .saltedJoin(fact, col("k"), col("payload"), dim, col("dk"), saltBuckets = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    assert(rowSet(salted) === rowSet(plain))
    // the hot key's fact rows really are spread: every salt bucket holds some
    val spread = fact.filter(col("k") === 1L)
      .withColumn("_salt", pmod(col("payload"), lit(8)))
      .groupBy("_salt").count().collect()
    assert(spread.length === 8)
  }

  test("bucketed tables join without a shuffle exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val o = graft.Tables(s, TestSpark.Sf0001, "orders")
    val li = graft.Tables(s, TestSpark.Sf0001, "lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    val joined = s.table("orders_b").join(
      s.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty, "bucket-co-located join must not shuffle")
    assert(joined.count() === li.count())
  }

  test("st4's bucketed join AND per-key aggregate run with zero exchanges") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val ordersT = ScaleTechniques.bucketedTable(s, TestSpark.Sf0001, "orders")
    val customerT = ScaleTechniques.bucketedTable(s, TestSpark.Sf0001, "customer")
    // st4's shape minus the presentation orderBy (which legitimately
    // range-partitions): join + groupBy must both ride the bucket layout
    val agg = s.table(ordersT)
      .join(s.table(customerT),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"))
    val shuffles = agg.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      s"bucketed join+agg must not shuffle:\n${agg.queryExecution.executedPlan}")
    assert(agg.count() === 150)
  }

  test("a staged bucket layout outlives the catalog: DDL re-registration keeps zero-exchange") {
    // first session writes the layout; dropping the table models a NEW
    // JVM whose in-memory catalog died while the staged files survived
    // (SIGKILL skipped the TempDirs shutdown hook)
    val s1 = spark.newSession()
    val t1 = ScaleTechniques.bucketedTable(s1, TestSpark.Sf0001, "orders")
    val expected = s1.table(t1).count()
    s1.sql(s"DROP TABLE $t1")

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ordersT = ScaleTechniques.bucketedTable(s2, TestSpark.Sf0001, "orders")
    val customerT = ScaleTechniques.bucketedTable(s2, TestSpark.Sf0001, "customer")
    assert(s2.table(ordersT).count() === expected) // re-registered, not rewritten
    val joined = s2.table(ordersT).join(
      s2.table(customerT), col("o_custkey") === col("c_custkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      "re-registered bucketed table lost its layout metadata (join shuffled)")
  }

  test("AQE splits a skewed join partition at runtime") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force sort-merge
    // shrink the skew thresholds so test-sized data triggers the handling
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s.conf.set("spark.sql.shuffle.partitions", "8")

    // one hot key carrying ~300k fact rows; 50 cold keys with ~20 each
    val fact = s.range(300000).select(lit(1L).as("k"), col("id").as("payload"))
      .unionAll(s.range(1000).select((col("id") % 50 + 2).as("k"), col("id").as("payload")))
    val dim = s.range(60).select(col("id").as("k"), (col("id") * 10).as("v"))
    // no downstream operator may require the join's output partitioning,
    // or AQE (correctly) refuses to split the skewed partitions
    val joined = fact.join(dim, Seq("k"))
    // execute THIS frame's own QueryExecution so its adaptive plan is final
    assert(joined.collect().length === 301000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), s"AQE skew handling not engaged:\n${plan.take(1500)}")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100 TB decontamination enhancement promised in
    // Decontamination's scaladoc: a bloom filter built from the small
    // (creation) side is pushed into the probe side's scan, so most
    // probe rows die before the shuffle
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    val ev = graft.Tables(s, TestSpark.Sf0001, "events")
    ev.write.mode("overwrite").parquet(s"$dir/events")
    val probe = s.read.parquet(s"$dir/events").select("event_id", "user_id", "value")
    // the injector fires only when the creation side carries a SELECTIVE
    // filter predicate — which is exactly the decontamination shape
    // (small filtered set probing the big corpus)
    val build = s.read.parquet(s"$dir/events")
      .filter(col("event_type") === "error").select(col("event_id").as("eid"))
    val joined = probe.join(build, col("event_id") === col("eid"))
    val expected = ev.filter(col("event_type") === "error").count()
    assert(joined.count() === expected)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
      plan.take(2000))
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = Files.createTempDirectory("parts").toString
    events.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val formatted = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PartitionFilters"), formatted.take(400))
    assert(
      formatted.contains("isnotnull(event_type") ||
        formatted.contains("event_type#"),
      "partition filter present in scan")
    // only the matching partition's rows are read
    assert(scan.count() === events.filter("event_type = 'purchase'").count())
  }

  test("st3's fact scan carries a dynamic partition pruning filter") {
    val df = graft.SparkEntry.queries("st3_dpp_join")(spark, graft.TestSpark.Sf0001)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("dynamicpruning"),
      formatted.take(1500))
  }
}
