package graft.operators

import graft.{Q, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension operators beyond the reference's surface (SURVEY.md §7 item
  * 7): sketch aggregation, multi-level rollup, and set operations —
  * standard warehouse capabilities a reference user grows into.
  */
object ExtendedOps {

  val all: Seq[Q] = Seq(
    // HLL sketch: approx_count_distinct next to the exact count. The
    // sketch value is engine-specific (the raw estimate can never
    // hash-match a DuckDB recomputation), so what the oracle compares is
    // the exact column plus the approximation's ERROR-BAND INDEX:
    // floor(relative error / 0.25) — 0 for anything within 25% (= 5× the
    // default rsd 0.05, far past HLL++'s error tail for any corpus or
    // implementation revision), and a diagnosable magnitude (1 = 25-50%
    // off, 2 = 50-75% off, ...) rather than a bare boolean mismatch if
    // the estimator ever drifts. ExtendedOpsSpec asserts the raw
    // estimate's bound directly.
    Q(
      "ap1_approx_distinct",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id")).as("approx_users"))
          .select(
            col("event_type"),
            col("exact_users"),
            floor(abs(col("approx_users").cast("double") - col("exact_users")) /
              col("exact_users") / 0.25).cast("int").as("approx_err_band"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
             |  CAST(0 AS INT) AS approx_err_band
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // Multi-level rollup: per (priority, status) with subtotals and a
    // grand total — one pass, no query-per-level.
    Q(
      "a9_rollup_priority_status",
      (s, dir) =>
        Tables(s, dir, "orders")
          .rollup(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
          .orderBy(
            asc_nulls_first("o_orderpriority"),
            asc_nulls_first("o_orderstatus")),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n
             |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
             |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
    ),

    // A11: explicit GROUPING SETS — the third grouping shape next to
    // ROLLUP (a9) and CUBE (a10): exactly the requested combinations
    // ((priority), (status), ()) in ONE pass, where separate queries
    // would scan three times. Spark expands the sets with a single
    // Expand node feeding one aggregation — the same map-side-combined
    // shuffle as a plain groupBy.
    Q(
      "a11_grouping_sets",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq.empty),
            col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
          .orderBy(
            asc_nulls_first("o_orderpriority"),
            asc_nulls_first("o_orderstatus")),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
             |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
    ),

    // KMV bottom-k sketch via the custom TypedImperativeAggregate
    // (graft.functions.BottomKLongs): a mergeable distinct sketch with
    // map-side partial aggregation like any built-in agg. The sketch and
    // the derived estimate ((k-1)·2^32 / h_(k)) are deterministic, so the
    // oracle recomputes them exactly — unlike approx_count_distinct's
    // engine-specific HLL (ap1 handles that with a bounded-error check).
    Q(
      "bk1_bottomk_sketch",
      (s, dir) => {
        GraftFunctions.register(s)
        val k = 64
        val ev = Tables(s, dir, "events")
          .select(
            col("event_type"),
            conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
              .cast("long").as("h"))
        ev.groupBy(col("event_type"))
          .agg(
            countDistinct(col("h")).as("exact_distinct"),
            call_function(GraftFunctions.BottomKName, col("h"), lit(k)).as("sketch"))
          .select(
            col("event_type"),
            col("exact_distinct"),
            size(col("sketch")).as("sketch_size"),
            when(size(col("sketch")) < k, col("exact_distinct").cast("double"))
              .otherwise(lit((k - 1).toDouble * 4294967296.0) / element_at(col("sketch"), k))
              .as("estimated_distinct"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (SELECT event_type,
             |            CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
             |          FROM events),
             |sk AS (SELECT event_type, count(DISTINCT h) AS exact_distinct,
             |         list_sort(list_distinct(list(h)))[1:64] AS sketch
             |       FROM h GROUP BY event_type)
             |SELECT event_type, exact_distinct,
             |  CAST(len(sketch) AS INT) AS sketch_size,
             |  CASE WHEN len(sketch) < 64 THEN CAST(exact_distinct AS DOUBLE)
             |       ELSE 63.0 * 4294967296.0 / sketch[64] END AS estimated_distinct
             |FROM sk ORDER BY event_type""".stripMargin)
    ),

    // CM1: Count-Min frequency sketch (custom mergeable
    // TypedImperativeAggregate) built over every event's user key, then
    // point-probed for ten users against their exact counts. The
    // sketch's md5-slice bucketing is bit-reproducible in SQL (the bk1
    // digest idiom), so the oracle recomputes the d×w counter table and
    // the min-over-rows probe EXACTLY — no error band needed. Scale
    // shape: one map-side-combined pass reduces any scan to d·w longs
    // per group; probes are O(d) array reads against the one-row
    // sketch, never a corpus-keyed shuffle (the point-query complement
    // to hh1's TOP-k sketch).
    Q(
      "cm1_countmin_probe",
      (s, dir) => {
        GraftFunctions.register(s)
        val d = 4
        val w = 512
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("user_id").cast("string").as("x"))
        val sketch = ev.agg(
          call_function(GraftFunctions.CountMinName,
            col("x"), lit(d), lit(w)).as("cm"))
        val exact = ev.filter(col("user_id").between(0, 9))
          .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        // row-i bucket of the probe, same md5-slice formula as the agg
        def bucket(i: Int) =
          (conv(substring(md5(col("user_id").cast("string")), 1 + 8 * i, 8),
            16, 10).cast("long") % w).cast("int")
        val est = (0 until d).map(i =>
          element_at(col("cm"), lit(i * w) + bucket(i) + 1))
          .reduce(least(_, _))
        exact.crossJoin(broadcast(sketch))
          .select(
            col("user_id"), col("exact_n"), est.as("cm_est"),
            (est - col("exact_n")).as("overcount"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(user_id AS VARCHAR) AS x FROM events),
             |rows_i AS (SELECT unnest(range(0, 4)) AS i),
             |b AS (SELECT i, CAST('0x' || substr(md5(x), 1 + 8*i, 8) AS BIGINT) % 512 AS bkt
             |      FROM ev CROSS JOIN rows_i),
             |counters AS (SELECT i, bkt, CAST(count(*) AS BIGINT) AS c
             |             FROM b GROUP BY i, bkt),
             |ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
             |       FROM events WHERE user_id BETWEEN 0 AND 9 GROUP BY user_id),
             |pb AS (SELECT user_id, i,
             |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1 + 8*i, 8) AS BIGINT) % 512 AS bkt
             |       FROM ex CROSS JOIN rows_i),
             |est AS (SELECT user_id, min(COALESCE(c, 0)) AS cm_est
             |        FROM pb LEFT JOIN counters USING (i, bkt) GROUP BY user_id)
             |SELECT user_id, exact_n, cm_est, cm_est - exact_n AS overcount
             |FROM est JOIN ex USING (user_id) ORDER BY user_id""".stripMargin)
    ),

    // Set operations: urgent-order customers minus high-priority overlap,
    // plus the intersection — EXCEPT/INTERSECT with DISTINCT semantics.
    Q(
      "u1_set_ops",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        val high = o.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey"))
        urgent.except(high).withColumn("side", lit("urgent_only"))
          .unionAll(urgent.intersect(high).withColumn("side", lit("both")))
          .orderBy("side", "o_custkey")
      },
      Some("""SELECT * FROM (
             |  SELECT o_custkey, 'urgent_only' AS side FROM
             |    (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |     EXCEPT
             |     SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
             |  UNION ALL
             |  SELECT o_custkey, 'both' AS side FROM
             |    (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |     INTERSECT
             |     SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))
             |ORDER BY side, o_custkey""".stripMargin)
    ),

    // U2: bag-semantics set ops — EXCEPT ALL / INTERSECT ALL preserve
    // multiplicity (a customer with 3 urgent and 1 high order appears
    // twice in the difference), which is what reconciliation queries
    // actually need; the u1 set variants collapse counts. Spark plans
    // these as a single aggregate-of-signed-counts + generate, not a
    // per-row sort-merge — one shuffle each.
    Q(
      "u2_bag_set_ops",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        val high = o.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey"))
        urgent.exceptAll(high).withColumn("side", lit("urgent_surplus"))
          .unionAll(urgent.intersectAll(high).withColumn("side", lit("both")))
          .groupBy("side", "o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("side", "o_custkey")
      },
      Some("""SELECT side, o_custkey, count(*) AS n FROM (
             |  SELECT o_custkey, 'urgent_surplus' AS side FROM
             |    (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |     EXCEPT ALL
             |     SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
             |  UNION ALL
             |  SELECT o_custkey, 'both' AS side FROM
             |    (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |     INTERSECT ALL
             |     SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))
             |GROUP BY side, o_custkey ORDER BY side, o_custkey""".stripMargin)
    ),

    // PV1: pivot (long-to-wide) — status × priority revenue matrix.
    // Spark's relational pivot with EXPLICIT pivot values: without them
    // the planner runs an extra distinct-collect job to discover the
    // columns, which at 100 TB is a full extra scan; with them the pivot
    // compiles to one pass of conditional aggregation (same plan as the
    // CASE-WHEN oracle) with map-side partial aggregation. Money sums use
    // the fixed-point cents convention (StarQueries scaladoc) so results
    // are partition-order independent and engine-identical.
    Q(
      "pv1_pivot_status_priority",
      (s, dir) => {
        val cents = round(col("o_totalprice") * 100).cast("long")
        Tables(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(sum(cents))
          .orderBy("o_orderstatus")
      },
      // Each SUM is wrapped in CAST(... AS BIGINT): DuckDB widens
      // SUM(BIGINT) to HUGEINT (int128) while Spark stays LongType, and
      // the driver's compare is type-sensitive even when values agree.
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "1-URGENT",
             |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "2-HIGH",
             |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "3-MEDIUM",
             |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "4-NOT SPECIFIED",
             |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "5-LOW"
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    ),

    // WQ1: exact interpolated percentiles (quantile type 7, the
    // percentile_cont semantics) of order quantity per return flag.
    // Exact percentiles need the full value multiset per group — fine
    // for a low-cardinality group-by (Spark's ObjectHashAggregate
    // buffers per group); at 100 TB with high-cardinality groups you'd
    // switch to approx_percentile (t-digest, mergeable partial aggs).
    // l_quantity is integral, so the (n-1)p linear interpolation lands
    // on .0/.25/.5/.75 — binary-exact across engines.
    Q(
      "wq1_quantity_percentiles",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // WQ2: robust dispersion — per-group median, MAD (median absolute
    // deviation) and the |x−med| > 3·MAD outlier tally. MAD is the
    // robust σ (immune to the heavy tail that poisons mean/stddev
    // gates); the shape is two scans + two BROADCAST joins of 3-row
    // medians — nothing wide shuffles. percentile() is Spark's exact
    // interpolated percentile = DuckDB quantile_cont, the equivalence
    // wq1 already pins down.
    Q(
      "wq2_mad_robust",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem").select("l_returnflag", "l_quantity")
        val med = li.groupBy("l_returnflag")
          .agg(expr("percentile(l_quantity, 0.5)").as("med"))
        val d = li.join(broadcast(med), Seq("l_returnflag"))
          .withColumn("adev", abs(col("l_quantity") - col("med")))
        val m2 = d.groupBy("l_returnflag", "med")
          .agg(expr("percentile(adev, 0.5)").as("mad"))
        d.select("l_returnflag", "adev")
          .join(broadcast(m2), Seq("l_returnflag"))
          .groupBy("l_returnflag", "med", "mad")
          .agg(sum(when(col("adev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
          .orderBy("l_returnflag")
      },
      Some("""WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
             |            FROM lineitem GROUP BY 1),
             |d AS (SELECT l.l_returnflag, med, abs(l_quantity - med) AS adev
             |      FROM lineitem l JOIN med USING (l_returnflag)),
             |m2 AS (SELECT l_returnflag, med, quantile_cont(adev, 0.5) AS mad
             |       FROM d GROUP BY 1, 2)
             |SELECT d.l_returnflag, m2.med, m2.mad,
             |  CAST(count(*) FILTER (WHERE d.adev > 3 * m2.mad) AS BIGINT) AS n_outliers
             |FROM d JOIN m2 USING (l_returnflag)
             |GROUP BY d.l_returnflag, m2.med, m2.mad
             |ORDER BY l_returnflag""".stripMargin)
    ),

    // WQ3: EXACT weighted median via group histograms + prefix sums —
    // the scale-correct form. A sort-the-rows median shuffles and
    // sorts the fact table; this reduces each group to its VALUE
    // HISTOGRAM first (groupBy (group, value) with map-side partials —
    // the only corpus-sized pass), then runs the cumulative-weight
    // window over histogram rows (values-per-group rows, ~50 here, not
    // fact rows — the lk3/zCluster discipline: no window ever sees
    // corpus-sized partitions). Weights are fixed-point cents summed as
    // BIGINT, so the half-total comparison is integer-exact in both
    // engines; the median is the smallest value whose cumulative weight
    // reaches half the group total (2*cum >= total avoids division).
    Q(
      "wq3_weighted_median",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hist = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("w"))
        val cum = hist.withColumn("cw",
          sum("w").over(Window.partitionBy("l_returnflag")
            .orderBy("l_quantity")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = hist.groupBy("l_returnflag").agg(sum("w").as("tw"))
        cum.join(broadcast(tot), Seq("l_returnflag"))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy("l_returnflag")
          .agg(min("l_quantity").as("weighted_median"),
            max(col("tw")).as("total_weight_cents"))
          .orderBy("l_returnflag")
      },
      Some("""WITH hist AS (
             |  SELECT l_returnflag, l_quantity,
             |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |cum AS (
             |  SELECT l_returnflag, l_quantity, w,
             |         CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
             |  FROM hist),
             |tot AS (SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tw FROM hist GROUP BY 1)
             |SELECT c.l_returnflag,
             |       MIN(c.l_quantity) AS weighted_median,
             |       CAST(MAX(t.tw) AS BIGINT) AS total_weight_cents
             |FROM cum c JOIN tot t USING (l_returnflag)
             |WHERE c.cw * 2 >= t.tw
             |GROUP BY c.l_returnflag
             |ORDER BY l_returnflag""".stripMargin)
    ),

    // WQ4: winsorized statistics — clip each group's values to its own
    // exact [P1, P99] band, report the clip tallies and the clipped
    // fixed-point mean. The robust-preprocessing step feature pipelines
    // run before z-scoring (wq2's MAD gates OUTLIERS; winsorizing KEEPS
    // the row with a bounded value). Shape: one percentile pass per
    // group (Spark exact `percentile` = DuckDB quantile_cont, the wq1
    // equivalence), then one broadcast join of the ≤|groups|-row band
    // table back onto the scan — nothing corpus-sized shuffles twice.
    // The clipped mean follows the fixed-point convention over clipped
    // values, which are either raw inputs or the group's own band
    // edges — deterministic on both engines.
    Q(
      "wq4_winsorized_stats",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // NO scan spread: tried in r16 and reverted — the histogram
        // partial agg is too cheap per row for the round-robin to pay
        // (wall 3.91 -> 3.65 but task-s 4.5 -> 10.6 in the matched A/B)
        val li = Tables(s, dir, "lineitem")
          .select("l_returnflag", "l_extendedprice")
        // Exact percentile via VALUE HISTOGRAM + cumulative window (the
        // wq3 discipline) instead of percentile(): l_extendedprice is
        // ~unique per row, so Spark's ObjectHashAggregate buffered a
        // corpus-sized value->count map per partial, shuffled it
        // (21 MB), and merge-sorted per group single-threaded (474 ms
        // GC in-sweep). The histogram form shuffles one count per
        // (group, value) with map-side partials and the window runs
        // over value-sorted histogram rows. The interpolation below is
        // Spark Percentile.getPercentile VERBATIM — position
        // p·(n−1), lower/higher keys by cumulative count, then
        // (higher−pos)·lowerKey + (pos−lower)·higherKey — so the
        // doubles are bit-identical to percentile()'s (oracle-proven).
        // Cumulative count via TWO-LEVEL prefix sum (the lk3 grade-CDF
        // discipline) instead of a Window partitioned by l_returnflag:
        // that window put each group's whole distinct-value histogram
        // through ONE task (3 tasks total at any scale — at 100 TB that
        // is millions of rows through a single sorted window buffer).
        // Level 1: stamp each histogram row with a VALUE BUCKET — the
        // count of precomputed quantile boundaries at or below its
        // value, a deterministic monotone label, so unlike a
        // spark_partition_id over a range exchange it needs no persist
        // to stay consistent across its consumers (any monotone,
        // execution-consistent bucketing yields the same cw; the
        // sketch's own precision only balances bucket sizes). Take
        // per-(bucket, group) subtotals, a |buckets|×|groups|-row frame.
        // Level 2: cumulate the subtotals into per-bucket offsets (a
        // window over the tiny subtotal frame) and finish with a
        // per-(bucket, group) local running sum over ONLY the buckets a
        // percentile lands in (see the pruning note below).
        // cw per row is the identical long, so the interpolated doubles
        // below are bit-identical to the single-window form
        // (oracle-proven at sf0.01/sf0.1).
        val parts = math.max(1,
          s.sessionState.conf.numShufflePartitions)
        // one bounded driver fetch (the gr3/gradeMap discipline): one
        // boundary per session core from a mergeable sketch, folded
        // into the plan as literals — the histogram keeps its map-side
        // partial aggregation (a range exchange would drop it), and the
        // bucket label is a codegen'd comparison chain, not a HOF (the
        // chain must stay small enough for whole-stage codegen: a
        // 4x-cores chain blew the generated-method budget and fell back
        // to interpreted eval at ~25 us/row)
        val bRow = li.agg(expr(
          s"approx_percentile(l_extendedprice, array(${
            (1 until parts).map(i => i.toDouble / parts).mkString(",")
          }), 10000)").as("b")).head()
        val bnds =
          if (bRow.isNullAt(0)) Array.empty[Double]
          else bRow.getSeq[Double](0).distinct.sorted.toArray
        val bucket = bnds.map(b =>
            when(col("l_extendedprice") >= lit(b), 1).otherwise(0))
          .reduceOption[org.apache.spark.sql.Column](_ + _).getOrElse(lit(0))
        val hist = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("_b", bucket)
        // Level-2 offsets, totals, positions and hot buckets all derive
        // from the |buckets|×|groups|-row subtotal frame INSIDE the one
        // query execution (broadcast subqueries), so the histogram's
        // exchange map side runs once and is reused — a bounded driver
        // fetch of the subtotals was tried and REVERTED: it is a second
        // ACTION, and exchange reuse never crosses actions, so the
        // histogram map pass ran twice (+0.5 task-s, +0.3 s wall).
        val offW = Window.partitionBy("l_returnflag").orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = hist.groupBy("_b", "l_returnflag")
          .agg(sum("cnt").as("_pn"))
          .select(col("_b"), col("l_returnflag"), col("_pn"),
            coalesce(sum("_pn").over(offW), lit(0L)).as("_off"))
        // group totals fall out of the subtotals — no third histogram pass
        val tot = offs.groupBy("l_returnflag").agg(sum("_pn").as("n_tot"))
        def pctl(p: Double, out: String): Seq[org.apache.spark.sql.Column] = {
          val pos = lit(p) * (col("n_tot") - 1).cast("double")
          Seq(pos.as(s"${out}_pos"),
            floor(pos).as(s"${out}_lo"), ceil(pos).as(s"${out}_hi"))
        }
        val markPos = tot.select(
          Seq(col("l_returnflag")) ++ pctl(0.01, "a") ++ pctl(0.99, "b"): _*)
        // The interpolation below reads the histogram at FOUR cumulative
        // positions per group (P1/P99's floor and ceil neighbours). A
        // cumulative position's crossing row — the first row with
        // cw >= t, i.e. min(value | cw >= t), since cw ascends with
        // value — lives in exactly the bucket whose offset range
        // (_off, _off + _pn] brackets it, so only those <= 4 buckets
        // per group enter the local running-sum window at all; the rest
        // of the histogram never reaches a window task at any scale.
        val tgt = markPos
          .select(col("l_returnflag"),
            explode(array(col("a_lo") + 1, col("a_hi") + 1,
              col("b_lo") + 1, col("b_hi") + 1)).as("t"))
          .distinct()
        val hot = offs.join(tgt, Seq("l_returnflag"))
          .filter(col("t") > col("_off") && col("t") <= col("_off") + col("_pn"))
        val hotParts = hot.select("_b", "l_returnflag", "_off").distinct()
        val localW = Window.partitionBy("_b", "l_returnflag")
          .orderBy("l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cumHot = hist.join(broadcast(hotParts), Seq("_b", "l_returnflag"))
          .withColumn("cw", sum(col("cnt")).over(localW) + col("_off"))
        val keys = cumHot
          .join(broadcast(tgt), Seq("l_returnflag"))
          .filter(col("cw") >= col("t"))
          .groupBy("l_returnflag", "t")
          .agg(min(col("l_extendedprice")).as("key"))
        def keyAt(idx: org.apache.spark.sql.Column) =
          min(when(col("t") === idx + 1, col("key")))
        val bands = markPos.join(keys, Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(
            keyAt(col("a_lo")).as("a_lok"), keyAt(col("a_hi")).as("a_hik"),
            max(col("a_pos")).as("a_pos"), max(col("a_lo")).as("a_lo"),
            max(col("a_hi")).as("a_hi"),
            keyAt(col("b_lo")).as("b_lok"), keyAt(col("b_hi")).as("b_hik"),
            max(col("b_pos")).as("b_pos"), max(col("b_lo")).as("b_lo"),
            max(col("b_hi")).as("b_hi"))
          .select(
            col("l_returnflag"),
            when(col("a_hi") === col("a_lo"), col("a_lok"))
              .otherwise((col("a_hi") - col("a_pos")) * col("a_lok") +
                (col("a_pos") - col("a_lo")) * col("a_hik")).as("p01"),
            when(col("b_hi") === col("b_lo"), col("b_lok"))
              .otherwise((col("b_hi") - col("b_pos")) * col("b_lok") +
                (col("b_pos") - col("b_lo")) * col("b_hik")).as("p99"))
        li.join(broadcast(bands), Seq("l_returnflag"))
          .select(
            col("l_returnflag"), col("p01"), col("p99"),
            least(greatest(col("l_extendedprice"), col("p01")), col("p99"))
              .as("clipped"),
            (col("l_extendedprice") < col("p01")).cast("long").as("lo"),
            (col("l_extendedprice") > col("p99")).cast("long").as("hi"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum("lo").as("n_clipped_low"),
            sum("hi").as("n_clipped_high"),
            max("p01").as("p01"),
            max("p99").as("p99"),
            (sum(round(col("clipped") * 10000).cast("long")).cast("double") /
              10000.0 / count(lit(1))).as("winsorized_mean"))
          .select(
            col("l_returnflag"), col("n"), col("n_clipped_low"),
            col("n_clipped_high"), round(col("p01"), 6).as("p01"),
            round(col("p99"), 6).as("p99"),
            round(col("winsorized_mean"), 6).as("winsorized_mean"))
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag,
             |         quantile_cont(l_extendedprice, 0.01) AS p01,
             |         quantile_cont(l_extendedprice, 0.99) AS p99
             |  FROM lineitem GROUP BY 1),
             |c AS (
             |  SELECT l.l_returnflag, p01, p99,
             |         LEAST(GREATEST(l_extendedprice, p01), p99) AS clipped,
             |         CAST(l_extendedprice < p01 AS BIGINT) AS lo,
             |         CAST(l_extendedprice > p99 AS BIGINT) AS hi
             |  FROM lineitem l JOIN b USING (l_returnflag))
             |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(SUM(lo) AS BIGINT) AS n_clipped_low,
             |  CAST(SUM(hi) AS BIGINT) AS n_clipped_high,
             |  ROUND(MAX(p01), 6) AS p01, ROUND(MAX(p99), 6) AS p99,
             |  ROUND(CAST(SUM(CAST(ROUND(clipped * 10000) AS BIGINT)) AS DOUBLE)
             |    / 10000.0 / count(*), 6) AS winsorized_mean
             |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // WF3: ntile decile segmentation — the RFM-style customer banding
    // move: spread each priority's orders across 10 equal-count value
    // deciles, then profile each band (count + fixed-point spend).
    // ntile's band boundaries depend only on the SORTED position, and
    // the (o_totalprice, o_orderkey) tie-break makes that order total,
    // so band assignment is partition-order deterministic. One window
    // shuffle on the partition key, one map-side-combined aggregate —
    // the window state is a counter, not a buffer.
    Q(
      "wf3_ntile_deciles",
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables(s, dir, "orders")
          .withColumn("decile", ntile(10).over(w).cast("long"))
          .groupBy("o_orderpriority", "decile")
          .agg(
            count(lit(1)).as("n"),
            (sum(round(col("o_totalprice") * 100).cast("long"))
              .cast("double") / 100.0).as("band_total"))
          .orderBy("o_orderpriority", "decile")
      },
      Some("""WITH d AS (
             |  SELECT o_orderpriority, o_totalprice,
             |    CAST(ntile(10) OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
             |  FROM orders)
             |SELECT o_orderpriority, decile, count(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS band_total
             |FROM d GROUP BY 1, 2 ORDER BY o_orderpriority, decile""".stripMargin)
    ),

    // WF1: cumulative + full-partition analytics in ONE window pass:
    // running order total, order sequence number, and each order's share
    // of the customer's lifetime spend. One shuffle on o_custkey serves
    // all three frames (running, row_number, partition total) — Spark
    // plans a single Window node; the unbounded-preceding running frame
    // streams per partition with O(1) state. Money in fixed-point cents;
    // the share is fixed-point micros (cents*1e6 DIV lifetime) so the
    // compare is integer-exact, never a double-representation tie. The
    // oracle window SUMs are CAST back to BIGINT (DuckDB widens to
    // HUGEINT, the driver hash is type-sensitive).
    Q(
      "wf1_running_customer_spend",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val cents = round(col("o_totalprice") * 100).cast("long")
        Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            cents.as("cents"))
          .withColumn("order_seq", row_number().over(w).cast("long"))
          .withColumn("running_cents",
            sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("lifetime_cents",
            sum(col("cents")).over(Window.partitionBy("o_custkey")))
          .withColumn("share_micros",
            expr("(cents * 1000000L) DIV lifetime_cents"))
          .select("o_custkey", "o_orderkey", "order_seq", "running_cents",
            "lifetime_cents", "share_micros")
          .orderBy("o_custkey", "order_seq")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
             |w AS (SELECT o_custkey, o_orderkey, cents,
             |  CAST(row_number() OVER w AS BIGINT) AS order_seq,
             |  CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
             |  CAST(SUM(cents) OVER (PARTITION BY o_custkey) AS BIGINT) AS lifetime_cents
             |FROM o
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
             |SELECT o_custkey, o_orderkey, order_seq, running_cents, lifetime_cents,
             |  (cents * 1000000) // lifetime_cents AS share_micros
             |FROM w ORDER BY o_custkey, order_seq""".stripMargin)
    ),

    // WF2: the navigation/distribution window surface — lag/lead deltas
    // along each customer's order history plus ntile quartile,
    // percent_rank and cume_dist within each priority class. Two window
    // specs → two shuffles (customer-keyed, priority-keyed); Spark plans
    // one Window node per spec and evaluates all functions that share a
    // spec in the same pass. Money is fixed-point cents (wf1's
    // convention); percent_rank/cume_dist are ratios of exact row counts
    // so the doubles compare bit-identically. Both orderings carry
    // o_orderkey as the unique tiebreaker — lag/lead and ntile are
    // frame-order-sensitive, so a non-total order would be
    // nondeterministic on ties.
    Q(
      "wf2_nav_distribution",
      (s, dir) => {
        val w1 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val w2 = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
        Tables(s, dir, "orders")
          .select(
            col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_orderpriority"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("prev_cents", lag("cents", 1).over(w1))
          .withColumn("next_cents", lead("cents", 1).over(w1))
          .withColumn("delta_cents", col("cents") - col("prev_cents"))
          .withColumn("price_quartile", ntile(4).over(w2))
          .withColumn("price_pct_rank", percent_rank().over(w2))
          .withColumn("price_cume_dist", cume_dist().over(w2))
          .select(
            "o_orderkey", "o_custkey", "cents", "prev_cents", "next_cents",
            "delta_cents", "price_quartile", "price_pct_rank", "price_cume_dist")
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
             |SELECT o_orderkey, o_custkey, cents,
             |  lag(cents) OVER w1 AS prev_cents,
             |  lead(cents) OVER w1 AS next_cents,
             |  cents - lag(cents) OVER w1 AS delta_cents,
             |  CAST(ntile(4) OVER w2 AS INT) AS price_quartile,
             |  percent_rank() OVER w2 AS price_pct_rank,
             |  cume_dist() OVER w2 AS price_cume_dist
             |FROM o
             |WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             |       w2 AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // A10: CUBE — all four (priority × status) grouping combinations in
    // one pass plus per-column GROUPING flags (the NULL-vs-subtotal
    // disambiguators). Spark expands the cube into an internal Expand
    // node feeding one hash aggregate: still a single scan + shuffle at
    // any scale, vs four separate group-bys re-reading the fact table.
    Q(
      "a10_cube_priority_status",
      (s, dir) =>
        Tables(s, dir, "orders")
          .cube(col("o_orderpriority"), col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            grouping(col("o_orderpriority")).cast("int").as("g_priority"),
            grouping(col("o_orderstatus")).cast("int").as("g_status"))
          .orderBy(
            asc_nulls_first("o_orderpriority"),
            asc_nulls_first("o_orderstatus")),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
             |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
             |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status
             |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
             |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
    ),

    // AP2: approx_percentile — the mergeable quantile sketch (Greenwald-
    // Khanna in Spark) that replaces wq1's exact per-group multiset at
    // 100 TB: partial sketches combine map-side like any agg, memory is
    // O(accuracy), not O(rows). Sketch internals are engine-specific, so
    // (ap1 convention) the oracle checks the exact column and the
    // approximation's absolute-error index: floor(|approx − exact| / 1
    // quantity unit) — 0 expected, a diagnosable magnitude on drift.
    Q(
      "ap2_approx_percentile",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.5)").as("exact_p50"),
            expr("approx_percentile(l_quantity, 0.5, 10000)").as("approx_p50"))
          .select(
            col("l_returnflag"),
            col("exact_p50"),
            floor(abs(col("approx_p50") - col("exact_p50")) / 1.0).cast("int")
              .as("approx_err_units"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS exact_p50,
             |  CAST(0 AS INT) AS approx_err_units
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // RJ1: range join without an equi key — purchases within ±5 minutes
    // of each error event, ANY user. Naive form (`ON abs(tp - te) <= W`)
    // has no equality predicate, so Spark plans a broadcast/cartesian
    // nested-loop — O(|errors|·|purchases|), dead at scale. The scale
    // form here bins time into W-width buckets, EXPLODES the probe side
    // into its 3 adjacent bins, and equi-joins on the bin — a partitioned
    // hash join whose per-key fan-in is bounded by event density per
    // window, with the exact range check as a post-predicate INSIDE the
    // join condition (left join keeps zero-match errors). Each purchase
    // copy matches a given error in at most one bin, so no dedup pass is
    // needed. Same trick generalizes to any band/range join (genomics
    // intervals, geo tiles).
    Q(
      "rj1_range_join_binned",
      (s, dir) => {
        val winUs = 300000000L // 5 min in microseconds
        val ev = Tables(s, dir, "events")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), unix_micros(col("ts")).as("eus"))
          .withColumn("bin", expr(s"eus DIV $winUs"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("pus"))
          .withColumn("bin",
            explode(array(expr(s"pus DIV $winUs - 1"), expr(s"pus DIV $winUs"),
              expr(s"pus DIV $winUs + 1"))))
        errors
          .join(purchases,
            errors("bin") === purchases("bin") &&
              abs(col("pus") - col("eus")) <= winUs,
            "left")
          .groupBy("event_id")
          .agg(count(col("pus")).as("n_nearby_purchases"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS eus FROM events WHERE event_type = 'error'),
             |p AS (SELECT epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase')
             |SELECT event_id, count(p.pus) AS n_nearby_purchases
             |FROM e LEFT JOIN p ON abs(p.pus - e.eus) <= 300000000
             |GROUP BY event_id ORDER BY event_id""".stripMargin)
    ),

    // AF1: quantity-weighted mean price per return flag through the
    // typed Aggregator API (functions.udaf bridge) — the modern UDAF
    // surface next to bk1's TypedImperativeAggregate. The buffer is
    // exact fixed-point integers, so partial/merge are associative and
    // partition-order independent; the oracle recomputes the same
    // integer arithmetic. Plans like any built-in agg: partial
    // ObjectHashAggregate -> shuffle on the group key -> final.
    Q(
      "af1_weighted_avg_price",
      (s, dir) => {
        val wmean = udaf(graft.functions.TypedAggregators.WeightedMeanPrice)
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            wmean(col("l_extendedprice"), col("l_quantity")).as("w_avg_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             |    / (100.0 * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)) AS w_avg_price,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // RJ2: the SAME interval join written naively — `ON abs(tp-te) <= W`
    // with no equi key — relying on the graft.plans.RangeJoinBinning
    // optimizer rule to apply rj1's rewrite automatically. Driver-
    // verifying this alongside rj1 proves the rule is answer-preserving
    // on real data, not just plan-shaped (the spec asserts the
    // nested-loop is gone). The rule reaches the session through
    // GraftExtensions, so the plan below is the rewritten equi join.
    Q(
      "rj2_range_join_rule",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val e = ev.filter(col("event_type") === "error")
          .select(col("event_id"), unix_micros(col("ts")).as("eus"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("pus"))
        e.join(p, abs(col("pus") - col("eus")) <= 300000000L, "left")
          .groupBy("event_id")
          .agg(count(col("pus")).as("n_nearby_purchases"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS eus FROM events WHERE event_type = 'error'),
             |p AS (SELECT epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase')
             |SELECT event_id, count(p.pus) AS n_nearby_purchases
             |FROM e LEFT JOIN p ON abs(p.pus - e.eus) <= 300000000
             |GROUP BY event_id ORDER BY event_id""".stripMargin)
    ),

    // RJ3: the point-in-interval join written naively — `p.t BETWEEN
    // e.lo AND e.hi` with no equi key, the other common range-join idiom
    // (rj1/rj2 cover the symmetric |a-b| <= w band). Per purchase, count
    // the error events whose 10-minute aftermath window contains it.
    // Without the RangeJoinBinning interval rewrite this plans as a
    // broadcast-nested-loop (no equality conjunct); with it, the
    // interval side explodes into its overlapped bins
    // (sequence(lo DIV W, hi DIV W), W the rule's 5-minute
    // IntervalBinWidth) and the planner gets a shuffled
    // equi join on the bin — the left-outer point side stays
    // unduplicated, so zero-error purchases survive with count 0.
    Q(
      "rj3_interval_join_rule",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), unix_micros(col("ts")).as("pus"))
        val e = ev.filter(col("event_type") === "error")
          .select(unix_micros(col("ts")).as("eus"))
        p.join(e,
            col("pus") >= col("eus") && col("pus") <= col("eus") + 600000000L,
            "left")
          .groupBy("event_id")
          .agg(count(col("eus")).as("n_recent_errors"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase'),
             |e AS (SELECT epoch_us(ts) AS eus FROM events WHERE event_type = 'error')
             |SELECT event_id, count(e.eus) AS n_recent_errors
             |FROM p LEFT JOIN e ON pus >= eus AND pus <= eus + 600000000
             |GROUP BY event_id ORDER BY event_id""".stripMargin)
    ),

    // AP3: sketch ROLLUP — the property that makes sketches worth
    // storing: per-DAY HLL sketches (Datasketches, `hll_sketch_agg`)
    // union-merge into per-MONTH distincts WITHOUT rescanning the raw
    // data. At 100 TB this is the difference between "distinct users
    // per month" costing a month of scan vs merging 30 kilobyte-sized
    // daily sketches a scheduled job already materialized — partial
    // reaggregation, the same reason every metrics store keeps sketches
    // not counts. The exact branch exists only to oracle it (ap1's
    // banded-error convention: HLL estimates are engine-specific, so
    // the checkable surface is the exact count + an error-band index,
    // 0 within 25% — far past the ~1.6% rsd of the lgK=12 sketch).
    Q(
      "ap3_sketch_rollup",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val daily = ev
          .groupBy(date_trunc("DAY", col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val monthly = daily
          .groupBy(date_trunc("MONTH", col("day")).as("month"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
        val exact = ev
          .groupBy(date_trunc("MONTH", col("ts")).as("month"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(monthly, "month")
          .select(
            col("month").cast("date").as("month"),
            col("exact_users"),
            floor(abs(col("approx_users").cast("double") - col("exact_users")) /
              col("exact_users") / 0.25).cast("int").as("approx_err_band"))
          .orderBy("month")
      },
      Some("""SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
             |  count(DISTINCT user_id) AS exact_users,
             |  CAST(0 AS INT) AS approx_err_band
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // AP4: sketch-algebra intersection — the audience-overlap estimate.
    // HLL sketches union natively but cannot intersect, so the overlap
    // between two event types' user sets comes from inclusion-
    // exclusion over three union-able estimates: |A∩B| ≈ |A| + |B| −
    // |A∪B|. One pass builds every per-type sketch; the pair estimates
    // then merge SKETCHES (kilobytes), never rescanning events — how a
    // metrics store answers "overlap between any two segments" at
    // 100 TB. Inclusion-exclusion amplifies the sketch's relative
    // error, so this is only sound when the overlap is a large
    // fraction of either side (here user sets nearly coincide); the
    // oracle uses ap1's banded-error convention against the exact
    // overlap (band 0 = within 25%).
    Q(
      "ap4_sketch_intersection",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("user_id"))
        val sk = ev.groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
        val a = sk.select(col("event_type").as("type_a"),
          col("sk").as("sk_a"), col("est").as("est_a"))
        val b = sk.select(col("event_type").as("type_b"),
          col("sk").as("sk_b"), col("est").as("est_b"))
        val pairs = a.join(b, col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            (col("est_a") + col("est_b") -
              hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
              .as("approx_overlap"),
            (col("est_a") + col("est_b")).as("est_sum"))
        // dedupe (type, user) BEFORE the pair join: the join fans out
        // per matching pair of rows, so deduping after would square
        // the per-user event multiplicity first
        val tu = ev.distinct()
        val exact = tu.as("x").join(tu.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("type_a"),
            col("y.event_type").as("type_b"))
          .agg(count(lit(1)).as("exact_overlap"))
        // the accepted band derives from the MECHANISM, not the data:
        // inclusion–exclusion error is bounded by the three sketches'
        // errors, each ~1.6% (lgK=12), so 5% of (|A|+|B|) is ~3σ of
        // the estimator regardless of how small the overlap itself is;
        // the 25%-of-exact term keeps the old relative check for large
        // overlaps. A regenerated corpus with tiny overlaps stays in
        // band 0 because the sketch-scale term dominates there.
        exact.join(pairs, Seq("type_a", "type_b"))
          .select(
            col("type_a"), col("type_b"), col("exact_overlap"),
            floor(abs(col("approx_overlap").cast("double") - col("exact_overlap")) /
              (col("exact_overlap") * 0.25 +
                col("est_sum").cast("double") * 0.05))
              .cast("int").as("approx_err_band"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |  CAST(count(*) AS BIGINT) AS exact_overlap,
             |  CAST(0 AS INT) AS approx_err_band
             |FROM tu a JOIN tu b
             |  ON a.user_id = b.user_id AND a.event_type < b.event_type
             |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin)
    )
  )
}
