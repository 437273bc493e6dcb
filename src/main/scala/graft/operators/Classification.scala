package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained document classification: multinomial Naive Bayes over token
  * counts — the closed-form member of the quality/language-classifier
  * family every training-data pipeline runs (fastText-style filters,
  * language ID, domain routing). Training IS aggregation: per-class
  * token counts + Laplace smoothing, no gradient loop, so the whole
  * fit/predict cycle is three shuffles end to end.
  *
  * Scale design (100 TB):
  *   - The MODEL is vocab × classes — broadcast-sized after the vocab
  *     pruning any real pipeline applies (top-K by frequency; here the
  *     corpus vocab is already bounded). The corpus-sized side only
  *     ever shuffles (doc_id, tok) count pairs with map-side combine.
  *   - Scoring uses the sparse-NB identity: score(d,c) = prior(c) +
  *     |d|·default(c) + Σ_matched n_t·(lp(t,c) − default(c)), so only
  *     tokens PRESENT in the model join — unknown tokens ride the
  *     per-class default term instead of a dense vocab×doc expansion.
  *   - The argmax is a per-doc window over |classes| rows (≤ classes
  *     per doc, never corpus-wide).
  *   - Determinism: per-token log-probs are rounded to 1e-6 and summed
  *     as LONGs (tx14's convention), so scores are independent of
  *     partition/summation order and hash-match the DuckDB oracle —
  *     and the ln is [[graft.functions.LnExact]], not libm, so the
  *     rounding can't be flipped by the engines' measured 1-ulp log
  *     disagreement (the model is vocab×classes rows, so the staged
  *     ln runs on model entries, never the corpus).
  *
  * Reference anchor: extends the reference's rule-based validation
  * tier (src/validate_recipes.py) to a LEARNED filter, the way
  * production corpus pipelines replace hand rules with trained
  * classifiers.
  */
object Classification {

  /** Laplace-smoothed per-class token model of a (label, toks) frame:
    * one row per (label, tok) present in training, plus the per-class
    * prior/default terms. All log-probs are fixed-point longs (×1e6).
    *
    * Returns (classes, model):
    *   classes — (label, prior6, def6, denom): log class prior, the
    *     unknown-token log-prob, and the smoothing denominator n_toks+V;
    *   model — (label, tok, adj6): lp6(tok|label) − def6(label), the
    *     sparse adjustment the scorer sums over matched tokens.
    */
  def fit(train: DataFrame, labelCol: String, toksCol: String)
      : (DataFrame, DataFrame) = {
    // ONE corpus explode+shuffle: every other statistic (per-class
    // token totals, vocab size) derives from the (label, tok) counts —
    // the derive-from-grouped-counts move dp4 uses, instead of three
    // corpus-sized aggregation passes
    val counts = train
      .select(col(labelCol).as("label"), explode(col(toksCol)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("label", "tok").agg(count(lit(1)).as("cnt"))
    val nDocs = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val nToks = counts.groupBy("label").agg(sum("cnt").as("n_toks"))
    val vocab = counts.agg(countDistinct(col("tok")).as("v"))
    val total = train.agg(count(lit(1)).as("total_docs"))
    val base = nDocs.join(nToks, "label").crossJoin(vocab).crossJoin(total)
    val classes = graft.functions.LnExact.withLp6(
      graft.functions.LnExact.withLp6(
        base, col("n_docs").cast("double") / col("total_docs"), "prior6"),
      lit(1.0) / (col("n_toks") + col("v")), "def6")
      .select(
        col("label"), col("prior6"), col("def6"),
        (col("n_toks") + col("v")).as("denom"))
    val model = graft.functions.LnExact.withLp6(
      counts.join(classes, "label"),
      (col("cnt") + lit(1.0)) / col("denom"), "lp6")
      .select(
        col("label"), col("tok"), (col("lp6") - col("def6")).as("adj6"))
    (classes, model)
  }

  /** Score + argmax a (doc_id, toks) frame against a fitted model:
    * (doc_id, pred_label, score6). Ties break to the smallest label so
    * the answer is total-order deterministic.
    */
  def predict(test: DataFrame, classes: DataFrame, model: DataFrame)
      : DataFrame = {
    val toks = test
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n_t"))
    val docTot = toks.groupBy("doc_id").agg(sum("n_t").as("tot"))
    val matched = toks.join(model, "tok")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("n_t") * col("adj6")).as("m6"))
    val scored = docTot.crossJoin(broadcast(classes))
      .join(matched, Seq("doc_id", "label"), "left")
      .select(
        col("doc_id"), col("label"),
        (col("prior6") + col("tot") * col("def6") +
          coalesce(col("m6"), lit(0L))).as("score6"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score6"), asc("label"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("label").as("pred_label"), col("score6"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))

  val all: Seq[Q] = Seq(
    // NB1: fit on even doc_ids, predict lang for odd doc_ids. The
    // synthetic corpus carries no real lang signal, so accuracy hovers
    // at the majority-class rate — the oracle checks the MECHANISM
    // (smoothed counts, sparse scoring, deterministic argmax), which is
    // what transfers to a real corpus.
    Q(
      "nb1_naive_bayes",
      (s, dir) => {
        val d = docs(s, dir)
        val train = d.filter(col("doc_id") % 2 === 0)
          .withColumnRenamed("lang", "label")
        val test = d.filter(col("doc_id") % 2 === 1)
        val (classes, model) = fit(train, "label", "toks")
        predict(test, classes, model)
          .join(test.select(col("doc_id"), col("lang").as("actual_lang")),
            "doc_id")
          .select(
            col("doc_id"), col("pred_label"), col("score6"),
            col("actual_lang"),
            (col("pred_label") === col("actual_lang")).as("correct"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
             |tr AS (SELECT * FROM d WHERE doc_id % 2 = 0),
             |te AS (SELECT * FROM d WHERE doc_id % 2 = 1),
             |trtok AS (SELECT lang, tok FROM (SELECT lang, unnest(l) AS tok FROM tr) WHERE tok <> ''),
             |cls AS (SELECT lang, count(*) AS n_docs FROM tr GROUP BY lang),
             |lt AS (SELECT lang, count(*) AS n_toks FROM trtok GROUP BY lang),
             |vv AS (SELECT count(DISTINCT tok) AS v FROM trtok),
             |td AS (SELECT count(*) AS total_docs FROM tr),
             |classes AS (
             |  SELECT lang,
             |    ${graft.functions.LnExact.duckLp6Cols("(CAST(n_docs AS DOUBLE) / total_docs)", "prior6")},
             |    ${graft.functions.LnExact.duckLp6Cols("(1.0 / (n_toks + v))", "def6")},
             |    (n_toks + v) AS denom
             |  FROM cls JOIN lt USING (lang) CROSS JOIN vv CROSS JOIN td),
             |tc AS (SELECT lang, tok, count(*) AS cnt FROM trtok GROUP BY lang, tok),
             |model AS (
             |  SELECT lang, tok,
             |    ${graft.functions.LnExact.duckLp6Cols("((cnt + 1.0) / denom)", "lp6")},
             |    lp6 - def6 AS adj6
             |  FROM tc JOIN classes USING (lang)),
             |tetok AS (
             |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n_t
             |  FROM (SELECT doc_id, unnest(l) AS tok FROM te) WHERE tok <> ''
             |  GROUP BY doc_id, tok),
             |dt AS (SELECT doc_id, CAST(sum(n_t) AS BIGINT) AS tot FROM tetok GROUP BY doc_id),
             |m AS (SELECT doc_id, lang, CAST(sum(n_t * adj6) AS BIGINT) AS m6
             |      FROM tetok JOIN model USING (tok) GROUP BY doc_id, lang),
             |sc AS (
             |  SELECT dt.doc_id, c.lang AS cand,
             |    prior6 + tot * def6 + COALESCE(m6, 0) AS score6
             |  FROM dt CROSS JOIN classes c
             |  LEFT JOIN m ON m.doc_id = dt.doc_id AND m.lang = c.lang),
             |p AS (SELECT doc_id, cand, score6,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY score6 DESC, cand ASC) AS rk
             |      FROM sc)
             |SELECT p.doc_id, cand AS pred_label, CAST(score6 AS BIGINT) AS score6,
             |  te.lang AS actual_lang, cand = te.lang AS correct
             |FROM p JOIN te ON te.doc_id = p.doc_id
             |WHERE rk = 1 ORDER BY p.doc_id""".stripMargin)
    )
  )
}
