package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of (point-in-time) join.
  *
  * For every probe row (key, t) find the single build row with the same
  * key and the greatest build-time <= t (backward, the default direction;
  * forward = smallest build-time >= t). Spark has no native as-of join;
  * the naive encodings both die at scale:
  *
  *   - `probe JOIN build ON key AND b.t <= p.t` + per-probe max is an
  *     expansion join — every probe row pairs with its ENTIRE key history
  *     before the reduction, quadratic in rows-per-key;
  *   - per-key `collect_list` + binary-search UDF serializes each key's
  *     history into one task and leaves codegen.
  *
  * This implementation is linear and one-shuffle: tag build rows 0 and
  * probe rows 1, union them, and run a single window
  * `partitionBy(key).orderBy(t, tag)` carrying
  * `last(payload, ignoreNulls=true)` up to the current row. Each probe
  * row reads the build payload most recently seen at-or-before its own
  * timestamp — exactly the as-of match — in one pass over the sorted
  * partition. Cost is the same hash shuffle any equi-join on `key` pays,
  * plus an in-partition sort; no row expansion, no driver state, stays
  * inside WindowExec's streaming frame (running `last` over
  * unboundedPreceding..currentRow never buffers the partition).
  *
  * Tie semantics: a build row exactly at the probe time matches
  * (inclusive), because tag 0 sorts before tag 1 at equal times.
  *
  * 100 TB notes: partitions are per-key — hot keys distribute across
  * the hash space like any shuffle join, and a single pathological key
  * (one user with billions of events) is bounded by the same
  * rows-per-key limit as sessionization (ev2); the escape hatch there
  * is time-bucketing the key (carry each bucket's closing payload
  * forward one bucket) which turns the window into two bounded passes.
  *
  * Public semantics matched: pandas `merge_asof` (direction/tolerance)
  * and DuckDB's native ASOF JOIN, which is the oracle. Generalizes the
  * inline single-purpose formulation rounds 4–5 carried in ExtendedOps
  * (aj1/aj2 keep their names and exact output contracts) into a
  * reusable two-frame API with both directions, left/inner semantics,
  * and multi-column payloads.
  *
  * Tie determinism: a probe row at time t matches build rows at exactly
  * t (tag 0 sorts before tag 1). If the BUILD side carries DUPLICATE
  * (key, time) rows, the window's order is completed by the payload
  * struct itself (field-wise ascending), so the GREATEST payload among
  * the tied build rows wins — rerun-stable by construction rather than
  * partition-order luck (requires payload fields to be orderable types,
  * which every SQL-comparable column is; maps are not). Note the
  * cross-engine caveat: DuckDB's ASOF JOIN makes its own arbitrary pick
  * among tied build rows, so ORACLE equality additionally relies on
  * (key, time) being unique in the corpus — true here (aj1–aj3/sm11
  * build sides are unique by construction); with duplicate build
  * timestamps this API stays deterministic but may differ from another
  * engine's tie choice.
  */
object AsofJoin {

  /** Backward as-of join: for each probe row, the latest build row with
    * `build.timeCol <= probe.timeCol` sharing `keys`. `payload` maps
    * build columns to their output names. `left = true` keeps unmatched
    * probe rows (payload columns null); `left = false` drops them.
    */
  def asofBackward(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      payload: Seq[(String, String)],
      left: Boolean = false): DataFrame =
    asof(probe, build, keys, probeTime, buildTime, payload, forward = false, left)

  /** Forward as-of join: earliest build row with `build.timeCol >=
    * probe.timeCol`. Same mechanics with the sort reversed.
    */
  def asofForward(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      payload: Seq[(String, String)],
      left: Boolean = false): DataFrame =
    asof(probe, build, keys, probeTime, buildTime, payload, forward = true, left)

  private def asof(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      payload: Seq[(String, String)],
      forward: Boolean,
      left: Boolean): DataFrame = {
    val pay = struct(payload.map { case (c, out) => col(c).as(out) }: _*)
    val b = build.select(
      keys.map(col) ++ Seq(
        col(buildTime).as("__t"), pay.as("__pay"), lit(0).as("__tag")): _*)
    val p = probe
      .withColumn("__t", col(probeTime))
      .withColumn("__pay", lit(null).cast(b.schema("__pay").dataType))
      .withColumn("__tag", lit(1))
    // __pay completes the order among duplicate build (key, time) rows:
    // last() then deterministically returns the greatest payload instead
    // of whichever tied row the in-partition sort happened to place last
    // (probe rows' null __pay is never consulted across tags — __tag
    // already separates them)
    val ordered =
      if (forward) Seq(col("__t").desc, col("__tag").asc, col("__pay").asc)
      else Seq(col("__t").asc, col("__tag").asc, col("__pay").asc)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(ordered: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val probeOnly =
      if (left) col("__tag") === 1
      else col("__tag") === 1 && col("__match").isNotNull
    val matched = b
      .unionByName(p, allowMissingColumns = true)
      .withColumn("__match", last("__pay", ignoreNulls = true).over(w))
      .filter(probeOnly)
    val out = probe.columns.map(col) ++
      payload.map { case (_, n) => col(s"__match.$n").as(n) }
    matched.select(out: _*)
  }

  val all: Seq[Q] = Seq(
    // As-of left join: every purchase keeps the id of the user's most
    // recent page view at-or-before it (null when none). Same output
    // contract as rounds 4–5's inline formulation (now expressed through
    // the generic helper); DuckDB's native ASOF LEFT JOIN is the oracle.
    Q(
      "aj1_asof_last_view",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        asofBackward(
          ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "view"),
          keys = Seq("user_id"),
          probeTime = "ts",
          buildTime = "ts",
          payload = Seq("event_id" -> "last_view"),
          left = true)
          .select("event_id", "user_id", "last_view")
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, v.event_id AS last_view
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND p.ts >= v.ts
             |ORDER BY p.event_id""".stripMargin)
    ),

    // As-of with TOLERANCE (pandas merge_asof's `tolerance`; the
    // telemetry/finance freshness variant): the matched view counts only
    // if it is at most 1h stale, compared in exact integer microseconds
    // so both engines agree bit-for-bit. Stale/absent matches null out.
    Q(
      "aj2_asof_tolerance",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        asofBackward(
          ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "view"),
          keys = Seq("user_id"),
          probeTime = "ts",
          buildTime = "ts",
          payload = Seq("event_id" -> "last_view", "ts" -> "last_view_ts"),
          left = true)
          .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("last_view_ts")))
          .select(
            col("event_id"), col("user_id"),
            when(col("gap_us") <= 3600000000L, col("last_view")).as("fresh_view"),
            (col("gap_us") <= 3600000000L).as("is_fresh"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id,
             |  CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
             |       THEN v.event_id END AS fresh_view,
             |  epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000 AS is_fresh
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND p.ts >= v.ts
             |ORDER BY p.event_id""".stripMargin)
    ),

    // Forward direction: for each error event, the user's next signup
    // at-or-after it (time-to-recovery style analysis).
    Q(
      "aj3_asof_forward",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        asofForward(
          ev.filter(col("event_type") === "error")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "signup"),
          keys = Seq("user_id"),
          probeTime = "ts",
          buildTime = "ts",
          payload = Seq("event_id" -> "next_signup_id", "ts" -> "next_ts"))
          .withColumn("wait_us", unix_micros(col("next_ts")) - unix_micros(col("ts")))
          .select("event_id", "user_id", "next_signup_id", "wait_us")
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
             |     v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup')
             |SELECT p.event_id, p.user_id, v.event_id AS next_signup_id,
             |       epoch_us(v.ts) - epoch_us(p.ts) AS wait_us
             |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
             |ORDER BY p.event_id""".stripMargin)
    )
  )
}
