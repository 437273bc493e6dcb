package graft.plans

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.functions._

/** The RangeJoinBinning optimizer rule must (1) turn a naive
  * no-equi-key |a-b| <= w join into an equi join — no nested-loop /
  * cartesian in the physical plan, (2) preserve exact join semantics
  * including left-outer zero-match rows, and (3) leave joins that
  * already have an equi key alone.
  */
class RangeJoinBinningSpec extends SparkSpec {

  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("naive range join plans as an equi join with exact results") {
    val a = Seq((1L, 100L), (2L, 250L), (3L, 1000L)).toDF("a_id", "a_t")
    val b = Seq((10L, 95L), (11L, 160L), (12L, 240L), (13L, 2000L))
      .toDF("b_id", "b_t")
    val joined = a.join(b, abs(col("a_t") - col("b_t")) <= 60L)
      .select("a_id", "b_id")

    val plan = planOf(joined)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("graft_bin"), plan)

    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // |100-95|=5, |100-160|=60 (inclusive), |250-240|=10; 1000/2000 match nothing
    assert(got === Set((1L, 10L), (1L, 11L), (2L, 12L)))
  }

  test("left outer keeps zero-match left rows") {
    val a = Seq((1L, 100L), (2L, 10000L)).toDF("a_id", "a_t")
    val b = Seq((10L, 120L)).toDF("b_id", "b_t")
    val joined = a.join(b, abs(col("a_t") - col("b_t")) <= 50L, "left")
    val plan = planOf(joined)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    val got = joined.collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set((1L, Some(10L)), (2L, None)))
  }

  test("naive form equals the hand-binned rj1 answer on the event log") {
    val ev = graft.Tables(spark, TestSpark.Sf0001, "events")
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("eus"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("pus"))
    val naive = e.join(p, abs(col("pus") - col("eus")) <= 300000000L, "left")
      .groupBy("event_id").agg(count(col("pus")).as("n"))
    assert(!planOf(naive).contains("NestedLoop"), planOf(naive).take(500))
    val viaRule = naive.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val handBuilt = graft.SparkEntry.queries("rj1_range_join_binned")(
      spark, TestSpark.Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRule === handBuilt)
  }

  test("interval shape (pt BETWEEN lo AND hi) plans as an equi join") {
    val pts = Seq((1L, 100L), (2L, 250L), (3L, 9999L)).toDF("p_id", "pt")
    val ivs = Seq((10L, 90L, 110L), (11L, 200L, 260L), (12L, 240L, 255L))
      .toDF("iv_id", "lo", "hi")
    val joined = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("p_id", "iv_id")
    val plan = planOf(joined)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("graft_bin_pt"), plan)
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 11L), (2L, 12L)))
  }

  test("interval shape works when the interval side is on the left (inner)") {
    val ivs = Seq((10L, 90L, 110L), (11L, 500L, 600L)).toDF("iv_id", "lo", "hi")
    val pts = Seq((1L, 100L), (2L, 550L), (3L, 10L)).toDF("p_id", "pt")
    val joined = ivs.join(pts, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("iv_id", "p_id")
    val plan = planOf(joined)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 1L), (11L, 2L)))
  }

  test("one-sided band (t - w <= pt <= t) plans as an equi join") {
    val pts = Seq((1L, 100L), (2L, 250L)).toDF("p_id", "pt")
    val ts = Seq((10L, 120L), (11L, 500L)).toDF("t_id", "t")
    // pt within the 50 units BEFORE t
    val joined = pts.join(ts,
      col("pt") >= col("t") - 50L && col("pt") <= col("t"))
      .select("p_id", "t_id")
    val plan = planOf(joined)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L)))
  }

  test("left-outer interval keeps zero-match point rows exactly once") {
    val pts = Seq((1L, 100L), (2L, 99999L)).toDF("p_id", "pt")
    val ivs = Seq((10L, 90L, 110L)).toDF("iv_id", "lo", "hi")
    val joined = pts.join(ivs,
      col("pt") >= col("lo") && col("pt") <= col("hi"), "left")
    assert(!planOf(joined).contains("NestedLoop"), planOf(joined).take(500))
    val got = joined.collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set((1L, Some(10L)), (2L, None)))
  }

  test("left-outer with the interval on the LEFT is not rewritten") {
    // exploding the preserved side would multiply zero-match rows;
    // the rule must leave this shape to the nested-loop planner
    val ivs = Seq((10L, 90L, 110L), (11L, 5000L, 6000L)).toDF("iv_id", "lo", "hi")
    val pts = Seq((1L, 100L)).toDF("p_id", "pt")
    val joined = ivs.join(pts,
      col("pt") >= col("lo") && col("pt") <= col("hi"), "left")
    val plan = planOf(joined)
    assert(!plan.contains("graft_bin"), plan)
    val got = joined.collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set((10L, Some(1L)), (11L, None)))
  }

  test("joins that already have an equi key are untouched") {
    val a = Seq((1L, 5L)).toDF("id", "t1")
    val b = Seq((1L, 8L)).toDF("id2", "t2")
    val joined = a.join(b, col("id") === col("id2") &&
      abs(col("t1") - col("t2")) <= 10L)
    val plan = planOf(joined)
    assert(!plan.contains("graft_bin"), plan)
    assert(joined.count() === 1)
  }
}
