package graft

import org.apache.spark.sql.execution.FormattedMode

/** Locks in the physical-plan properties the scale story depends on —
  * the ones PLANS.md audits by hand. A regression that turns top-k into
  * a global sort, drops a pushed filter, or adds a nested-loop join
  * fails HERE, not in a round-later bench reading.
  */
class PlanShapeSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  /** Operator-tree section of the formatted plan (the per-node detail
    * repeats operator names; count the tree only — tools/plans.py rule).
    */
  private def tree(name: String): String = {
    val full = SparkEntry.queries(name)(spark, Dir)
      .queryExecution.explainString(FormattedMode)
    val cut = full.indexOf("\n(1) ")
    if (cut >= 0) full.substring(0, cut) else full
  }

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("top-k analytics compile to TakeOrderedAndProject, never a global sort") {
    for (q <- Seq("q1_ingredient_freq", "q5_top_returned_part", "q7_customer_leaderboard")) {
      val t = tree(q)
      assert(t.contains("TakeOrderedAndProject"), s"$q lost its top-k operator")
      assert(count(t, "\\bSort\\b") === 0, s"$q plans a global sort:\n$t")
    }
  }

  test("value predicates reach the parquet scan (PushedFilters)") {
    val full = SparkEntry.queries("p7_filter_pushdown")(spark, Dir)
      .queryExecution.explainString(FormattedMode)
    assert(full.contains("PushedFilters:"), "no pushdown section at all")
    assert(
      full.contains("GreaterThan") || full.contains("EqualTo") ||
        full.contains("LessThan"),
      s"only null-filters pushed:\n$full")
  }

  test("star joins broadcast the dims — no shuffle on the fact side of q5") {
    val t = tree("q5_top_returned_part")
    assert(t.contains("BroadcastHashJoin"), s"q5 dim join is not broadcast:\n$t")
    assert(count(t, "Exchange") <= 2, s"q5 has unexpected exchanges:\n$t")
  }

  test("no nested-loop or cartesian joins anywhere in the headline plans") {
    for (q <- Seq("q1_ingredient_freq", "q5_top_returned_part",
        "j1_revenue_per_nation", "rl1_blocked_linkage", "aj1_asof_last_view",
        "dd10_substring_scrub", "ss4_ivfpq_topk")) {
      val t = tree(q)
      assert(!t.contains("BroadcastNestedLoopJoin") && !t.contains("CartesianProduct"),
        s"$q contains a nested-loop/cartesian join:\n$t")
    }
  }

  test("approxProfile is Expand-free; the exact profile pays one Expand") {
    val li = spark.read.parquet(s"$Dir/lineitem.parquet")
    val cols = Seq("l_quantity", "l_discount", "l_tax")
    val approx = graft.operators.Profiling.approxProfile(li, cols)
      .queryExecution.explainString(FormattedMode)
    assert(!approx.contains("Expand"),
      s"sketch profile must not duplicate the stream per distinct column:\n$approx")
    // the contrast that motivates dp2: the same stats with exact
    // multi-column distinct DO plan an Expand
    val exact = li.agg(
      org.apache.spark.sql.functions.countDistinct(org.apache.spark.sql.functions.col("l_quantity")),
      org.apache.spark.sql.functions.countDistinct(org.apache.spark.sql.functions.col("l_discount")))
      .queryExecution.explainString(FormattedMode)
    assert(exact.contains("Expand"), "contrast case lost its Expand")
  }

  test("ix1's two-stage digest aggregation plans no Expand stream") {
    // the naive shape (countDistinct(doc_id) mixed with plain aggs over
    // occurrences) duplicates the corpus stream per distinct column;
    // the (term, doc) pre-aggregation keeps one stream, both stages
    // map-side combined
    val t = tree("ix1_inverted_index")
    assert(!t.contains("Expand"), s"ix1 regressed to an Expand plan:\n$t")
    assert(count(t, "HashAggregate") >= 4, s"ix1 lost its two-stage agg:\n$t")
  }

  test("ix3's BM25 joins are postings-sized and top-20 is TakeOrdered, not Sort") {
    val t = tree("ix3_bm25_search")
    assert(t.contains("TakeOrderedAndProject"), s"ix3 lost its top-k operator:\n$t")
    assert(!t.contains("CartesianProduct"), s"ix3 plans a cartesian:\n$t")
    // the df/stats sides are broadcast (3 terms / 1 row) — the corpus
    // never shuffles into a sort-merge join for them
    assert(count(t, "BroadcastHashJoin") >= 1, s"ix3 lost its broadcast joins:\n$t")
  }

  test("rl4's only nested-loop join is the 1-row broadcast weight table") {
    val t = tree("rl4_fellegi_sunter")
    assert(!t.contains("CartesianProduct"), s"rl4 plans a cartesian:\n$t")
    // candidates come from the blocking equi-join, never a cross join
    assert(count(t, "BroadcastNestedLoopJoin") <= 1,
      s"rl4 has unexpected nested-loop joins:\n$t")
    assert(count(t, "BroadcastHashJoin") + count(t, "SortMergeJoin") >= 1,
      s"rl4 lost its blocking equi-join:\n$t")
  }

  test("events scan yields TimestampType directly — no cast above the scan on ts") {
    val full = SparkEntry.queries("ev2_sessionize")(spark, Dir)
      .queryExecution.explainString(FormattedMode)
    assert(full.contains("ts:timestamp") || !full.contains("timestamp_ntz"),
      s"events.ts is not a plain timestamp at the scan:\n$full")
  }

  test("iv3's bootstrap is ONE join fold — the per-transition replay is gone") {
    val t = tree("iv3_join_view")
    val joins = count(t, "SortMergeJoin") + count(t, "BroadcastHashJoin") +
      count(t, "ShuffledHashJoin")
    // the empty-pre-state terms fold away (PropagateEmptyRelation);
    // only the deltaXdelta join — here the full bootstrap join — remains
    assert(joins === 1, s"iv3 plans $joins joins (expected exactly 1):\n$t")
    assert(!t.contains("BroadcastNestedLoopJoin") && !t.contains("CartesianProduct"),
      s"iv3 contains a nested-loop/cartesian join:\n$t")
  }

  test("a never-renamed snapshot log reads as ONE scan group (no resolver Union)") {
    val t = tree("tt1_time_travel")
    assert(!t.contains("Union"),
      s"identity fast path lost — plain log read plans a Union:\n$t")
  }

  test("ss6 searches the persisted maintained index, cached on both join sides") {
    val t = tree("ss6_maintained_ann_index")
    assert(count(t, "InMemoryTableScan") >= 2,
      s"maintained index not reused across the join sides:\n$t")
    assert(!t.contains("CartesianProduct") && !t.contains("BroadcastNestedLoopJoin"),
      s"ss6 contains a nested-loop/cartesian join:\n$t")
  }

  test("a dirty MoR read drops its dead rows inside the snapshot scan — no join at all") {
    // tt21's read has one outstanding vector: the dirty file's reader
    // loads its own DV rows and skips those positions, so the plan is
    // the batch scan alone — no anti-join build, broadcast or shuffled
    val t = tree("tt21_mor_merge")
    assert(t.contains("BatchScan snapshot-log"),
      s"tt21 does not read through the snapshot batch scan:\n$t")
    assert(!t.contains("Join"),
      s"tt21 applies its vector with a join:\n$t")
  }

  test("the DV changelog reads changed positions only — no file-diff exceptAll branches") {
    // tt20 spans a pure MoR-delete transition: no file was added or
    // removed, so the plan must be the broadcast position-delta
    // semi-join alone — no exceptAll subtree (which would mean table
    // content was read) and no second dirty-file scan for the
    // statically-empty insert direction (vectors only grew)
    val t = tree("tt20_mor_changelog")
    assert(count(t, "LeftSemi") >= 1 && t.contains("BroadcastHashJoin"),
      s"tt20 lost its broadcast position-delta semi-join:\n$t")
    assert(!t.contains("SortMergeJoin"),
      s"tt20 plans a shuffle join for a small position delta:\n$t")
    assert(count(t, "Scan parquet") <= 4,
      s"tt20 reads more scans than the dirty files + vectors:\n$t")
  }

  test("vector-free snapshot reads take the plain scan — zero MoR overhead") {
    // the DV-aware path must cost nothing on clean tables: no anti
    // join, identical shape to the pinned pre-MoR plan (one scan, no
    // joins at all)
    for (q <- Seq("tt1_time_travel", "tt19_mor_compaction")) {
      val t = tree(q)
      assert(!t.contains("LeftAnti") && !t.contains("Join"),
        s"$q (vector-free) pays a MoR join:\n$t")
    }
  }
}
