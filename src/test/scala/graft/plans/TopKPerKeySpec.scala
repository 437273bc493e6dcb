package graft.plans

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The TopKPerKey stack must (1) replace the Filter+Window row_number
  * idiom with the partial/final heap operators, (2) produce exactly the
  * window semantics — ranks, ties by tiebreak column, rank-kept and
  * rank-dropped projections — on multi-partition data, and (3) leave
  * windows it cannot serve (multiple window functions) alone.
  */
class TopKPerKeySpec extends SparkSpec {

  import spark.implicits._

  private def planted = (1 to 400).map { i =>
    (s"k${i % 7}", (i * 37) % 100, i.toLong) // 7 keys, tied values, unique id
  }.toDF("key", "value", "id").repartition(11)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Reference answer computed directly in Scala. */
  private def expected(k: Int): Set[(String, Int, Long, Int)] =
    (1 to 400).map(i => (s"k${i % 7}", (i * 37) % 100, i.toLong))
      .groupBy(_._1)
      .flatMap { case (key, rows) =>
        rows.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex.map {
          case ((_, v, id), idx) => (key, v, id, idx + 1)
        }
      }.toSet

  test("row_number filter plans as partial+final heaps, exact ranks, 11 partitions") {
    val w = Window.partitionBy("key").orderBy(desc("value"), asc("id"))
    val df = planted.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val plan = planOf(df)
    assert(plan.contains("FinalTopKPerKey"), plan.take(800))
    assert(plan.contains("PartialTopKPerKey"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
    val got = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(got === expected(3))
  }

  test("rank-dropped projection and cast comparisons still rewrite") {
    val w = Window.partitionBy("key").orderBy(desc("value"), asc("id"))
    val df = planted
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") < 3L) // < over a cast column: k = 2
      .select("key", "id")
    assert(planOf(df).contains("FinalTopKPerKey"), planOf(df).take(800))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expected(2).map(t => (t._1, t._3)))
  }

  test("rank == 1 becomes top-1") {
    val w = Window.partitionBy("key").orderBy(desc("value"), asc("id"))
    val df = planted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(planOf(df).contains("FinalTopKPerKey"), planOf(df).take(800))
    val got = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(got === expected(1))
  }

  test("bounded heap table: eviction path is exact at key cardinality >> resident keys") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, SortOrder}
    import org.apache.spark.sql.types.LongType
    // 5k distinct keys cycling through each of 7 partitions with only 16
    // resident heaps per pass — every key is evicted between its
    // occurrences; the emitted-chunk union must still reduce to exactly
    // the window semantics.
    val (key, value, id) = (AttributeReference("key", LongType)(),
      AttributeReference("value", LongType)(), AttributeReference("id", LongType)())
    val order = Seq(SortOrder(value, Descending), SortOrder(id, Ascending))
    val (n, keys, parts, k) = (200000L, 5000L, 7L, 2)
    def row(i: Long) = (i % keys, (i * 2654435761L) % 1000000, i)
    val emitted = (0L until parts).flatMap { p =>
      val in = (p until n by parts).iterator.map { i =>
        val (kk, v, ii) = row(i); InternalRow(kk, v, ii) }
      TopKPerKey.partialTopK(in, Seq(key), order, k, Seq(key, value, id), maxKeys = 16)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toVector
    }
    // an unbounded heap table emits at most k rows per key per partition
    assert(emitted.size > parts * keys * k, "no chunk was evicted")
    def topK(rows: Seq[(Long, Long, Long)]) = rows.groupBy(_._1)
      .flatMap { case (kk, rs) =>
        rs.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex.map {
          case ((_, v, ii), idx) => (kk, v, ii, idx + 1)
        }
      }.toSet
    assert(topK(emitted) === topK((0L until n).map(row)))
  }

  test("partial pass participates in whole-stage codegen (no fallback)") {
    // newSession() keeps the parent's GraftExtensions, so the rule is active
    val s = spark.newSession()
    // compile failures must throw, not silently fall back to interpreted
    s.conf.set("spark.sql.codegen.fallback", "false")
    import s.implicits._
    val df = (1 to 400).map(i => (s"k${i % 7}", (i * 37) % 100, i.toLong))
      .toDF("key", "value", "id").repartition(11)
    val w = Window.partitionBy("key").orderBy(desc("value"), asc("id"))
    val out = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    // execute FIRST: under AQE, CollapseCodegenStages runs per query
    // stage at materialization, so the pre-execution plan has no '*'
    // codegen markers anywhere
    val got = out.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(got === expected(3))
    val plan = out.queryExecution.executedPlan.toString
    // '*(n)' prefix = node is inside a WholeStageCodegen region
    assert("""\*\(\d+\) PartialTopKPerKey""".r.findFirstIn(plan).isDefined, plan)
  }

  test("multi-window-function filters are not rewritten") {
    val w = Window.partitionBy("key").orderBy(desc("value"), asc("id"))
    val df = planted
      .withColumn("rn", row_number().over(w))
      .withColumn("total", sum("value").over(Window.partitionBy("key")))
      .filter(col("rn") <= 2)
    assert(planOf(df).contains("Window"), planOf(df).take(800))
  }

  test("ev5 (custom operator) equals ev3's window semantics on the event log") {
    val ev5 = graft.SparkEntry.queries("ev5_topk_per_key")(spark, TestSpark.Sf0001)
    // reference computed directly from the base table in Scala
    val purchases = graft.Tables(spark, TestSpark.Sf0001, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = purchases.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(2).zipWithIndex.map {
        case ((_, id, v), idx) => (u, idx + 1L, id, v)
      }.toSeq
    }.toSet
    val got = ev5.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
  }

  test("ev3 and ev5 plan through the heaps; excluding the rule gives ev3 the stock Window") {
    def query(name: String) = graft.SparkEntry.queries(name)(spark, TestSpark.Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val ev3 = query("ev3_top_purchases_per_user")
    val custom = rows(ev3)
    Seq(ev3, query("ev5_topk_per_key")).foreach { df =>
      assert(planOf(df).contains("PartialTopKPerKey"), planOf(df).take(800))
    }
    spark.conf.set("spark.sql.optimizer.excludedRules", TopKViaRowNumber.ruleName)
    try {
      val stock = query("ev3_top_purchases_per_user")
      val plan = planOf(stock)
      assert(plan.contains("Window") && !plan.contains("TopKPerKey"), plan.take(800))
      assert(rows(stock) === custom)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
