package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Both operators key on a STABLE hash of the row's id — never
  * `rand()` — because at 100 TB the properties that matter are
  * operational, not statistical: the same document lands in the same
  * split on every rerun (no train/test leakage when the pipeline is
  * re-executed or backfilled), newly arriving data joins the right split
  * without reshuffling history, and any engine (here: DuckDB bit-for-bit)
  * can reproduce the assignment. Execution is a per-row projection +
  * filter — no shuffle, no state; Catalyst pushes the split filter into
  * the scan when a single split is selected.
  *
  * The md5-derived bucket `h(id) mod 100` reuses the Seed/Dedup
  * convention (first 8 md5 hex digits as uint32), so the oracle SQL is
  * the same expression.
  */
object Sampling {

  /** bucket ∈ [0,100): Spark side of the shared hash. */
  private[graft] def bucket(tag: String, id: Column): Column =
    pmod(
      conv(substring(md5(concat(lit(tag + ":"), id.cast("string"))), 1, 8), 16, 10)
        .cast("long"),
      lit(100))

  private[graft] def bucketSql(tag: String, id: String): String =
    s"CAST('0x' || substr(md5('$tag:' || CAST($id AS VARCHAR)), 1, 8) AS BIGINT) % 100"

  /** Efraimidis–Spirakis weighted-sampling key: −ln(u)/w with u the
    * row's md5-uniform (offset +0.5/2^32 so ln never sees 0) and w its
    * weight floored at 1 — smallest-k per group = weighted sample
    * without replacement. ONE definition shared by sp5 and cp2's
    * packaging funnel (both Scala and SQL forms): a tweak to either
    * constant desynchronizing the two queries was the advisor's r6
    * drift risk, and the fix is this helper. The ln is
    * [[graft.functions.LnExact]] (staged columns, hence the
    * DataFrame-shaped API): a libm ln could rank-flip two keys within
    * one ulp of the k-th boundary between engines — a thinner risk
    * than the lp6 roundings (only the boundary pair matters, not every
    * value), closed the same way so no verified path evaluates libm ln.
    */
  private[graft] def withWrsKey(
      df: DataFrame, id: Column, weight: Column, out: String): DataFrame = {
    val u = (conv(
      substring(md5(concat(lit("wrs:"), id.cast("string"))), 1, 8),
      16, 10).cast("double") + 0.5) / 4294967296.0
    graft.functions.LnExact.withLn(df, u, s"_${out}_lnu")
      .withColumn(out,
        -col(s"_${out}_lnu") / greatest(weight.cast("double"), lit(1.0)))
      .drop(s"_${out}_lnu")
  }

  /** The same key as DuckDB SELECT-list columns ending in `out`. */
  private[graft] def wrsKeyDuckCols(
      id: String, weight: String, out: String): String =
    graft.functions.LnExact.duckCols(
      s"((CAST('0x' || substr(md5('wrs:' || CAST($id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5) / 4294967296.0)",
      s"_${out}_lnu") +
      s",\n  -(_${out}_lnu) / greatest(CAST($weight AS DOUBLE), 1.0) AS $out"

  /** 80/10/10 train/val/test assignment for any keyed frame. */
  def hashSplit(df: DataFrame, id: Column, tag: String = "split"): DataFrame = {
    val b = bucket(tag, id)
    df.withColumn("split",
      when(b < 80, "train").when(b < 90, "val").otherwise("test"))
  }

  /** Per-stratum deterministic sampling: keep a row iff its bucket falls
    * under the stratum's rate — class rebalancing (keep all the rare
    * class, a sliver of the dominant one) as a scan-time filter.
    */
  def stratifiedSample(df: DataFrame, id: Column, rateFor: Column): DataFrame =
    df.filter(bucket("strat", id) < rateFor)

  val all: Seq[Q] = Seq(
    // Leakage-free 80/10/10 split of the document corpus.
    Q(
      "sp1_hash_split",
      (s, dir) =>
        hashSplit(Tables(s, dir, "documents").select("doc_id"), col("doc_id"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CASE WHEN ${bucketSql("split", "doc_id")} < 80 THEN 'train'
              |       WHEN ${bucketSql("split", "doc_id")} < 90 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // Class-rebalancing sample of the event stream: purchases kept at
    // 50%, errors at 2%, everything else at 10% — all per-row, no shuffle.
    Q(
      "sp2_stratified_sample",
      (s, dir) => {
        val rate = when(col("event_type") === "purchase", 50)
          .when(col("event_type") === "error", 2)
          .otherwise(10)
        stratifiedSample(
          Tables(s, dir, "events").select("event_id", "event_type"),
          col("event_id"), rate)
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, event_type FROM events
              |WHERE ${bucketSql("strat", "event_id")} <
              |  CASE event_type WHEN 'purchase' THEN 50 WHEN 'error' THEN 2 ELSE 10 END
              |ORDER BY event_id""".stripMargin)
    ),

    // Corpus mixture: resample sources to target weights — the data-mix
    // step every LM training run does (upweight curated sources, thin
    // the crawl). A weight w means each doc yields floor(w) copies plus
    // one more iff its hash bucket falls under frac(w)·100 — so the
    // EXPECTED multiplicity is exactly w, per-doc assignment is
    // deterministic/rerunnable, and execution is a per-row projection +
    // explode(sequence(1, copies)): no shuffle, no sampling state,
    // copies carry a copy_idx so downstream packing/shuffling can
    // distinguish epochs. Weights here: src0/src1 ×2.5 (upsample),
    // src2/src3 ×1.0 (keep), everything else ×0.25 (thin).
    // Spark's sequence(1, 0) would DESCEND ([1,0]) rather than return
    // empty, so zero-copy rows are filtered before the explode.
    Q(
      "sp3_corpus_mixture",
      (s, dir) => {
        val curated = col("source").isin("src0", "src1")
        val kept = col("source").isin("src2", "src3")
        val base = when(curated, 2).when(kept, 1).otherwise(0)
        val fracPct = when(curated, 50).when(kept, 0).otherwise(25)
        val copies = base +
          when(bucket("mix", col("doc_id")) < fracPct, 1).otherwise(0)
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), copies.as("copies"))
          .filter(col("copies") >= 1)
          .select(
            col("doc_id"), col("source"),
            explode(sequence(lit(1), col("copies"))).as("copy_idx"))
          .orderBy("doc_id", "copy_idx")
      },
      Some(s"""WITH c AS (
              |  SELECT doc_id, source,
              |    (CASE WHEN source IN ('src0','src1') THEN 2
              |          WHEN source IN ('src2','src3') THEN 1 ELSE 0 END
              |     + CASE WHEN ${bucketSql("mix", "doc_id")} <
              |         (CASE WHEN source IN ('src0','src1') THEN 50
              |               WHEN source IN ('src2','src3') THEN 0 ELSE 25 END)
              |       THEN 1 ELSE 0 END) AS copies
              |  FROM documents)
              |SELECT doc_id, source,
              |  CAST(unnest(generate_series(1, copies)) AS INT) AS copy_idx
              |FROM c WHERE copies >= 1
              |ORDER BY doc_id, copy_idx""".stripMargin)
    ),

    // Per-domain cap: keep at most k docs per source, selected by
    // deterministic hash order — the corpus-curation guard against one
    // crawl domain dominating the mix. Hash order makes the kept set a
    // uniform-without-replacement sample that is STABLE across reruns
    // and appends (a new arrival displaces at most one survivor), unlike
    // reservoir sampling whose kept set churns with partition order.
    // One shuffle on source; Spark ≥3.5 bounds it via
    // InferWindowGroupLimit (≤k rows per key leave each map task), and
    // the TopKPerKey stack (ev5) subsumes this exact shape when
    // installed.
    Q(
      "sp4_domain_cap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hk = conv(
          substring(md5(concat(lit("cap:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long")
        val w = Window.partitionBy("source").orderBy("hk", "doc_id")
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), hk.as("hk"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 12)
          .select("doc_id", "source", "rk")
          .orderBy("source", "rk")
      },
      Some("""SELECT doc_id, source, rk FROM (
             |  SELECT doc_id, source,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY CAST('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
             |               doc_id) AS BIGINT) AS rk
             |  FROM documents)
             |WHERE rk <= 12 ORDER BY source, rk""".stripMargin)
    ),

    // SP5: WEIGHTED sampling without replacement (Efraimidis–Spirakis
    // exponential keys): per source, keep the k docs with smallest
    // -ln(u)/w where u is the doc's md5-uniform and w its weight (here
    // n_chars — longer docs proportionally likelier). This is the
    // quality-weighted corpus subselection step (sample 10% favoring
    // high-quality docs) with sp4's operational properties: no rand(),
    // so membership is rerun/append-stable and engine-reproducible, and
    // the same single shuffle on source with InferWindowGroupLimit
    // bounding rows leaving each map task. u is offset by +0.5/2^32 so
    // ln never sees 0; keys are md5-spaced ~1e-5 apart at corpus scale,
    // far beyond any cross-engine 1-ulp ln/div divergence, and the
    // OUTPUT carries no float — only (source, doc_id, rank).
    Q(
      "sp5_weighted_sample",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("key", "doc_id")
        withWrsKey(
          Tables(s, dir, "documents"), col("doc_id"), col("n_chars"), "key")
          .select(col("doc_id"), col("source"), col("key"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 12)
          .select("doc_id", "source", "rk")
          .orderBy("source", "rk")
      },
      Some(s"""SELECT doc_id, source, rk FROM (
              |  SELECT doc_id, source,
              |    CAST(row_number() OVER (PARTITION BY source ORDER BY
              |      key, doc_id) AS BIGINT) AS rk
              |  FROM (SELECT doc_id, source,
              |    ${wrsKeyDuckCols("doc_id", "n_chars", "key")}
              |  FROM documents))
              |WHERE rk <= 12 ORDER BY source, rk""".stripMargin)
    ),

    // SP6: temperature-scaled source weights (α = 0.5) — the
    // multilingual-LM mixing rule (sample p_s ∝ n_s^α) that upweights
    // small sources relative to raw proportions, DERIVED from corpus
    // statistics rather than hand-set like sp3's fixed weights.
    // Determinism: each source's n^α is quantized to a 1e-6 long
    // FIRST, so the normalizing denominator is an exact integer sum
    // (double addition over the ~20-source table would be
    // partition-order sensitive); the weight and target-doc-count are
    // then single double divisions over exact integers. One scan, one
    // tiny (≤ sources) aggregate — zero shuffle beyond the group-by.
    Q(
      "sp6_temperature_weights",
      (s, dir) => {
        val n = Tables(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        val q = n.withColumn("q6",
          round(sqrt(col("n_docs").cast("double")) * 1000000.0).cast("long"))
        val tot = q.agg(
          sum("q6").as("q_tot"), sum("n_docs").as("total_docs"))
        q.crossJoin(broadcast(tot))
          .select(
            col("source"), col("n_docs"),
            round(col("q6").cast("double") * 1000000.0 / col("q_tot"))
              .cast("long").as("weight_ppm"),
            round(col("q6").cast("double") * col("total_docs") / col("q_tot"))
              .cast("long").as("target_docs"))
          .orderBy("source")
      },
      Some("""WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
             |q AS (SELECT source, n_docs,
             |        CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS q6
             |      FROM n),
             |tot AS (SELECT CAST(sum(q6) AS BIGINT) AS q_tot,
             |               CAST(sum(n_docs) AS BIGINT) AS total_docs FROM q)
             |SELECT source, n_docs,
             |  CAST(round(CAST(q6 AS DOUBLE) * 1000000 / q_tot) AS BIGINT) AS weight_ppm,
             |  CAST(round(CAST(q6 AS DOUBLE) * total_docs / q_tot) AS BIGINT) AS target_docs
             |FROM q CROSS JOIN tot ORDER BY source""".stripMargin)
    )
  )
}
