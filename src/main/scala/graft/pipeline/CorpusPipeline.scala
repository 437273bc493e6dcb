package graft.pipeline

import graft.{Q, Tables}
import graft.operators.{Decontamination, Dedup, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed training-corpus pipeline — every hygiene operator the
  * library provides, in the order a 100 TB pretraining ingest runs them:
  *
  *   quality filter → language filter → exact dedup → near-dedup
  *   (MinHash/LSH canonical reps) → deterministic split → test-set
  *   decontamination → partitioned lake write
  *
  * This is the training-data analogue of `recipes.RecipeEtl` (the
  * reference's composed ETL): one callable that strings the individually
  * oracle-verified operators into an executable product, with a row
  * accounting [[Report]] so every drop is attributable.
  *
  * Order matters for cost at scale: the per-row filters (quality, lang)
  * run FIRST on the scan — zero shuffle, pushed projections — so the
  * shuffling stages (dedup groupBy, LSH banding, gram joins) see only
  * surviving rows. Filters compose per-row; dedup keys are 8-byte
  * hashes; the split is a deterministic per-row hash (re-runnable,
  * backfill-safe); decontamination drops test docs sharing any 5-gram
  * with train. The lake is written partitioned by split so every
  * downstream trainer/eval scan partition-prunes.
  */
object CorpusPipeline {

  final case class Report(
      input: Long,
      afterQuality: Long,
      afterLang: Long,
      afterExact: Long,
      afterNear: Long,
      train: Long,
      validation: Long,
      test: Long,
      testClean: Long) {
    def json: String =
      s"""{"input":$input,"after_quality":$afterQuality,"after_lang":$afterLang,""" +
        s""""after_exact":$afterExact,"after_near":$afterNear,"train":$train,""" +
        s""""val":$validation,"test":$test,"test_clean":$testClean}"""
  }

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** tx2's keep-predicate: ≥ 20 tokens and ≤ 25% stopwords — via the
    * native TokenStats expression (one codegen'd byte pass; this
    * predicate reads every byte of the corpus, so it must not run an
    * interpreted per-token lambda).
    */
  private def qualityPred: org.apache.spark.sql.Column = {
    val ts = call_function(graft.functions.GraftFunctions.TokenStatsName,
      col("text"), typedlit(Stopwords))
    ts.getField("n_tokens") >= 20 &&
      ts.getField("n_stop").cast("double") / ts.getField("n_tokens") <= 0.25
  }

  /** Stage wall-clock to stderr when SPARK_GRAFT_PIPELINE_TIMING=1 —
    * the operational "where did the run go" hook (stderr so the stdout
    * JSON report stays machine-parseable).
    */
  private val timing = sys.env.get("SPARK_GRAFT_PIPELINE_TIMING").contains("1")
  private def timed[A](stage: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    if (timing) System.err.println(
      f"[pipeline] $stage%-12s ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** SINGLE-ACTION accounting (the r8 verdict's ask): every stage is a
    * per-row FLAG column, every funnel count a conditional aggregate of
    * ONE final aggregation — so the driver-action count no longer
    * scales with the number of stages. The prior shape ran a driver
    * action per funnel tier (counts, exact.count, tallies,
    * dirty.count); at small SF those sequential scheduler+planning
    * round-trips dominated data time and were the rerun-confirmed
    * source of cp1's chronic bench swing. The only remaining actions
    * are one corpus materialization and the near-dup fixed point's
    * convergence checks (inherent to iteration).
    *
    * Scale shape: the flagged corpus is shuffled ONCE by doc_id; the
    * exact-dedup survivor set arrives by aggregate-then-join (its
    * groupBy shuffles only (16-byte fp, 8-byte id) pairs with map-side
    * combine — text never rides the fingerprint shuffle, unlike a
    * window-over-fp formulation), and the near-rep and dirty-doc joins
    * reuse the same doc_id partitioning.
    *
    * Returns (accounting: 1-row lazy frame, clean: the publishable
    * corpus). Materializing `accounting` is one job end to end.
    */
  private def build(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(spark) // qualityPred's TokenStats
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = docs
      .withColumn("q", qualityPred)
      .withColumn("e", qualityPred && col("lang") === "en")
    // exact dedup survivors: min doc_id per content fingerprint among
    // quality English rows
    val exactIds = base.filter(col("e"))
      .select(md5(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("is_exact"))
    // ONE eager materialization of the flagged corpus: consumed by the
    // cluster fixed point, both gram branches, and the final
    // aggregation — localCheckpoint so those sibling consumers never
    // race an uncached persist (the gr4 lesson)
    val flags = timed("flags")(Sampling.hashSplit(
        base.join(exactIds, Seq("doc_id"), "left")
          .withColumn("is_exact", coalesce(col("is_exact"), lit(false))),
        col("doc_id"))
      .localCheckpoint(true))
    // near-dedup: fixed-point LSH clustering over the exact survivors,
    // each cluster's canonical representative survives
    val reps = timed("cluster")(Dedup.clusterFrame(
        flags.filter(col("is_exact")).select("doc_id", "text")))
      .filter(col("is_canonical"))
      .select(col("doc_id"), lit(true).as("is_near"))
    val near = flags.join(reps, Seq("doc_id"), "left")
      .withColumn("is_near", coalesce(col("is_near"), lit(false)))
    // decontamination flag: a near-surviving test doc sharing any
    // 5-gram with the near-surviving train split is dirty
    val trainGrams = Decontamination
      .gramsOf(near.filter(col("is_near") && col("split") === "train")
        .select("doc_id", "text"))
      .select("g").distinct()
    val dirty = Decontamination
      .gramsOf(near.filter(col("is_near") && col("split") === "test")
        .select("doc_id", "text"))
      .join(trainGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("is_dirty", lit(true))
    val tagged = near.join(dirty, Seq("doc_id"), "left")
      .withColumn("is_dirty", coalesce(col("is_dirty"), lit(false)))
    def cnt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val accounting = tagged.agg(
      count(lit(1)).as("input"),
      cnt(col("q")).as("after_quality"),
      cnt(col("e")).as("after_lang"),
      cnt(col("is_exact")).as("after_exact"),
      cnt(col("is_near")).as("after_near"),
      cnt(col("is_near") && col("split") === "train").as("train"),
      cnt(col("is_near") && col("split") === "val").as("val"),
      cnt(col("is_near") && col("split") === "test").as("test"),
      cnt(col("is_near") && col("split") === "test" && !col("is_dirty"))
        .as("test_clean"))
    val clean = tagged.filter(col("is_near") && !col("is_dirty"))
      .select("doc_id", "text", "lang", "source", "split")
    (accounting, clean)
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Report = {
    val (accounting, clean) = build(spark, sfDir)
    val r = timed("accounting")(accounting.head())
    clean.write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("split")
      .parquet(outDir)
    // Dedup.clusterFrame may leave CacheScope-tracked frames; all counts
    // and the lake write are done, so release them rather than leaking
    // one set per pipeline run (checkpoint blocks are GC-reaped).
    graft.CacheScope.release()
    Report(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
  }

  /** One-row frame of the composed pipeline's [[Report]] accounting —
    * the oracle-checkable surface of the END-TO-END composition (every
    * stage is individually oracle-verified; this proves the counts of
    * the stages chained together). No lake write: the accounting is the
    * product here. LAZY: the caller's materialization is the pipeline's
    * one non-iterative action.
    */
  def accountingFrame(spark: SparkSession, sfDir: String): DataFrame =
    build(spark, sfDir)._1

  /** CP1 oracle: the full composition recomputed in SQL. Quality/lang
    * filters, windowed exact dedup, the Dedup minhash→banding math
    * (identical CTEs to dd2/dd6's oracle), near-dedup as true connected
    * components via a recursive transitive closure over the
    * bucket-sharing graph (the fixed point clusterFrame iterates to),
    * the sp1 hash split, and the dc2 gram-overlap check.
    */
  private val accountingSql: String = {
    val splitCase =
      s"""CASE WHEN ${Sampling.bucketSql("split", "doc_id")} < 80 THEN 'train'
         |            WHEN ${Sampling.bucketSql("split", "doc_id")} < 90 THEN 'val'
         |            ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE
       |qf AS (SELECT doc_id, text, lang,
       |         len(string_split(text, ' ')) AS toks,
       |         len(list_filter(string_split(text, ' '),
       |           t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS stops
       |       FROM documents),
       |quality AS (SELECT doc_id, text, lang FROM qf
       |            WHERE toks >= 20 AND CAST(stops AS DOUBLE) / toks <= 0.25),
       |en AS (SELECT doc_id, text FROM quality WHERE lang = 'en'),
       |ex AS (SELECT doc_id, text FROM (
       |         SELECT doc_id, text,
       |           min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM en)
       |       WHERE doc_id = keep),
       |dtok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM ex),
       |hp AS (SELECT doc_id,
       |         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h1,
       |         CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) AS h2
       |       FROM dtok),
       |mh AS (SELECT doc_id, seed, min((h1 + seed * h2) % 4294967296) AS minhash
       |       FROM hp CROSS JOIN range(104) t(seed) GROUP BY doc_id, seed),
       |sigs AS (SELECT doc_id, CAST(seed // 13 AS INT) AS band,
       |           CAST('0x' || substr(md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)), 1, 15) AS BIGINT) AS sig
       |         FROM mh GROUP BY doc_id, band),
       |edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |          FROM sigs a JOIN sigs b
       |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id <> b.doc_id),
       |reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM ex
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id),
       |labels AS (SELECT doc_id, min(r) AS rep FROM reach GROUP BY doc_id),
       |near AS (SELECT ex.doc_id, ex.text FROM ex
       |         JOIN labels ON ex.doc_id = labels.doc_id
       |         WHERE ex.doc_id = labels.rep),
       |sp AS (SELECT doc_id, text, $splitCase AS split FROM near),
       |wd AS (SELECT doc_id, split, string_split(text, ' ') AS words FROM sp),
       |gg AS (SELECT doc_id, split,
       |         unnest(list_distinct(list_transform(
       |           generate_series(1, len(words) - 4),
       |           i -> CAST('0x' || substr(md5(array_to_string(words[i:i + 4], ' ')), 1, 8) AS BIGINT)))) AS g
       |       FROM wd),
       |tr AS (SELECT DISTINCT g FROM gg WHERE split = 'train'),
       |te AS (SELECT doc_id, g FROM gg WHERE split = 'test'),
       |dirty AS (SELECT DISTINCT doc_id FROM te SEMI JOIN tr ON te.g = tr.g)
       |SELECT
       |  (SELECT count(*) FROM documents) AS input,
       |  (SELECT count(*) FROM quality) AS after_quality,
       |  (SELECT count(*) FROM en) AS after_lang,
       |  (SELECT count(*) FROM ex) AS after_exact,
       |  (SELECT count(*) FROM near) AS after_near,
       |  (SELECT count(*) FROM sp WHERE split = 'train') AS train,
       |  (SELECT count(*) FROM sp WHERE split = 'val') AS "val",
       |  (SELECT count(*) FROM sp WHERE split = 'test') AS test,
       |  (SELECT count(*) FROM sp WHERE split = 'test'
       |     AND doc_id NOT IN (SELECT doc_id FROM dirty)) AS test_clean""".stripMargin
  }

  /** CP2: the PACKAGING funnel that follows cp1's hygiene pass — the
    * round-6 curation tier composed end-to-end with per-stage counts:
    *
    *   train split → entropy quality band (tx13's mid band) →
    *   weighted per-source cap (sp5's exponential keys, k=12) →
    *   chunk-window yield (ch1's 32/24 windows)
    *
    * Every stage is a per-row flag or bounded window — no stage adds a
    * corpus-sized shuffle beyond sp5's per-source window — and the
    * chunk yield is computed arithmetically (last_k + 1 per doc), not
    * by materializing chunk rows, so the accounting itself is scan-
    * bound. Stage names carry an ordinal prefix so the output sorts in
    * funnel order in any engine.
    */
  private def packagingFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val train = Sampling
      .hashSplit(
        Tables(s, dir, "documents").select("doc_id", "source", "text", "n_chars"),
        col("doc_id"))
      .filter(col("split") === "train")
    val entR = round(call_function(
      graft.functions.GraftFunctions.CharEntropyName, col("text")), 6)
    // EAGERLY materialized: three of the four count branches share this
    // subtree AND they are sibling stages of ONE crossJoin action — a
    // lazy persist makes them race the uncached partitions and re-run
    // the full-corpus entropy pass per branch (the gr4 lesson, see
    // GraphOps scaladoc; measured there: lazy persist 2x slower than no
    // cache). localCheckpoint(true) computes the pass once, up front.
    val banded = train.withColumn("ent", entR)
      .filter(col("ent") >= 3.5 && col("ent") <= 5.5)
      .localCheckpoint(true)
    // ONE definition with sp5 (Sampling.withWrsKey): the cap membership
    // here must stay bit-identical to sp5's sample or the funnel counts
    // drift. Eagerly materialized because two sibling branches
    // (doc count + chunk-yield sum) of the same action share it.
    val capped = Sampling
      .withWrsKey(banded, col("doc_id"), col("n_chars"), "key")
      .withColumn("rk",
        row_number().over(Window.partitionBy("source").orderBy("key", "doc_id")))
      .filter(col("rk") <= 12)
      .localCheckpoint(true)
    // chunk yield without materializing chunks: last_k + 1 per doc
    val lastK = floor(
      (greatest(size(split(col("text"), " ")) - graft.operators.Chunking.Width,
        lit(0)) + (graft.operators.Chunking.Stride - 1)) /
        graft.operators.Chunking.Stride).cast("long")
    val counts = train.agg(count(lit(1)).as("n1"))
      .crossJoin(banded.agg(count(lit(1)).as("n2")))
      .crossJoin(capped.agg(count(lit(1)).as("n3")))
      .crossJoin(capped.agg(
        coalesce(sum(lastK + 1L), lit(0L)).as("n4")))
    counts.select(expr(
      """stack(4,
        |  '1_train_split', n1,
        |  '2_entropy_band', n2,
        |  '3_weighted_cap', n3,
        |  '4_chunk_yield', n4) AS (stage, n_docs)""".stripMargin))
      .orderBy("stage")
  }

  private val packagingSql: String = {
    val w = graft.operators.Chunking.Width
    val st = graft.operators.Chunking.Stride
    s"""WITH t AS (SELECT doc_id, source, text, n_chars FROM documents
       |           WHERE ${Sampling.bucketSql("split", "doc_id")} < 80),
       |ed AS (SELECT doc_id, round(entropy(c), 6) AS ent
       |       FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM t)
       |       GROUP BY doc_id),
       |q AS (SELECT t.* FROM t JOIN ed ON t.doc_id = ed.doc_id
       |      WHERE ed.ent >= 3.5 AND ed.ent <= 5.5),
       |cap AS (SELECT doc_id, text FROM (
       |          SELECT doc_id, text, row_number() OVER (PARTITION BY source ORDER BY
       |            key, doc_id) AS rk
       |          FROM (SELECT doc_id, source, text,
       |            ${Sampling.wrsKeyDuckCols("doc_id", "n_chars", "key")}
       |          FROM q))
       |        WHERE rk <= 12),
       |ch AS (SELECT CAST(coalesce(SUM(
       |         (greatest(len(string_split(text, ' ')) - $w, 0) + ${st - 1}) // $st + 1), 0) AS BIGINT) AS n
       |       FROM cap)
       |SELECT stage, n_docs FROM (
       |  SELECT '1_train_split' AS stage, count(*) AS n_docs FROM t
       |  UNION ALL SELECT '2_entropy_band', count(*) FROM q
       |  UNION ALL SELECT '3_weighted_cap', count(*) FROM cap
       |  UNION ALL SELECT '4_chunk_yield', n FROM ch)
       |ORDER BY stage""".stripMargin
  }

  /** Registry entries: the composed pipelines' accounting, driver-verified. */
  val all: Seq[Q] = Seq(
    Q("cp1_corpus_accounting",
      (s, dir) => accountingFrame(s, dir),
      Some(accountingSql)),
    Q("cp2_packaging_accounting",
      (s, dir) => packagingFrame(s, dir),
      Some(packagingSql)))

  /** CLI: sfDir outDir → one JSON report line. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, sfDir, outDir).json)
    spark.stop()
  }
}
