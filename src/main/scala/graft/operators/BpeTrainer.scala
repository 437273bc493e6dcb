package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding (BPE) tokenizer TRAINING — the
  * vocabulary-learning half of a training-data pipeline's tokenizer
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
  * with Subword Units"; the cited algorithm is public).
  *
  * Scale design — the part that matters at 100 TB:
  *   - The corpus is reduced ONCE to the distinct-word frequency table
  *     (a shuffle over words, with map-side partial aggregation). Every
  *     subsequent iteration runs over |vocab| rows, not corpus rows —
  *     the classic reason BPE training is feasible at all.
  *   - Each merge round is: adjacent-pair count (array zip + explode +
  *     partial/final agg), a SINGLE-ROW argmax fetched to the driver
  *     (`head(1)` — bounded by construction, not a collect of data),
  *     and a row-local merge application (typed map, no shuffle).
  *   - The symbol table is re-persisted and `localCheckpoint`ed every
  *     few rounds so the plan doesn't grow by one map per merge
  *     (the dd6/gr1 lineage-severing pattern).
  *   - Tie-breaks are total (freq desc, then pair lexicographic), so
  *     the learned merge list is deterministic — reproducible vocab
  *     across runs and cluster sizes, and spec-comparable against a
  *     single-node reference implementation.
  */
object BpeTrainer {

  /** End-of-word marker (Sennrich's `</w>`): lets the tokenizer
    * distinguish word-final subwords, and makes de-tokenization exact.
    */
  val EndOfWord = "</w>"

  final case class WordSyms(syms: Seq[String], freq: Long)

  /** One learned merge: rank-th most frequent adjacent pair at the time
    * it was merged.
    */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Distinct-word frequency table of `textCol`, split on single spaces
    * (the corpus' tokenizer-level whitespace), empty tokens dropped.
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Word table → symbol-sequence table (chars + [[EndOfWord]]). */
  def toSymbols(words: DataFrame): Dataset[WordSyms] = {
    import words.sparkSession.implicits._
    words
      .select(
        concat(split(col("word"), ""), array(lit(EndOfWord))).as("syms"),
        col("freq"))
      .as[WordSyms]
  }

  /** Adjacent-pair frequencies of the current symbol table: zip each
    * sequence with its tail, explode, aggregate. Pure column work —
    * stays in codegen, aggregates map-side first.
    */
  def pairCounts(syms: Dataset[WordSyms]): DataFrame =
    syms
      .toDF()
      .select(
        explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"),
        col("freq"))
      .select(
        col("p").getField("0").as("left_sym"),
        col("p").getField("1").as("right_sym"),
        col("freq"))
      .groupBy("left_sym", "right_sym")
      .agg(sum("freq").as("pair_freq"))

  /** Merge every non-overlapping (left, right) occurrence left-to-right
    * in one sequence — the reference algorithm's replacement semantics.
    */
  private[operators] def applyMerge(
      syms: Seq[String], left: String, right: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += left + right
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Learn `numMerges` merges. Runs `numMerges` small jobs over the
    * vocab table; severs lineage every `checkpointEvery` rounds.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      checkpointEvery: Int = 8): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var syms = toSymbols(wordFreq(docs, textCol)).persist()
    syms.foreach(_ => ()) // materialize before the loop times anything
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var k = 1
    var done = false
    while (k <= numMerges && !done) {
      val top = pairCounts(syms)
        .orderBy(desc("pair_freq"), asc("left_sym"), asc("right_sym"))
        .head(1)
      if (top.isEmpty) done = true
      else {
        val row = top.head
        val (l, r, f) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += Merge(k, l, r, f)
        val prev = syms
        if (k % checkpointEvery == 0) {
          // checkpoint rounds: localCheckpoint returns a NEW dataset, so
          // the intermediate mapped dataset must be unpersisted itself
          // or its cache entry leaks every checkpointEvery rounds (the
          // final syms.unpersist() can't release it)
          val mapped = prev.map(w => w.copy(syms = applyMerge(w.syms, l, r))).persist()
          syms = mapped.localCheckpoint(true)
          mapped.unpersist()
        } else {
          syms = prev.map(w => w.copy(syms = applyMerge(w.syms, l, r))).persist()
          syms.foreach(_ => ())
        }
        prev.unpersist()
      }
      k += 1
    }
    syms.unpersist()
    merges.toSeq
  }

  /** Encode a text against a learned merge list: greedy application of
    * merges in rank order per word — the tokenizer's APPLY side. The
    * merge list is a broadcast-sized driver value (|merges| rows);
    * encoding is row-local.
    */
  def encode(text: String, merges: Seq[Merge]): Seq[String] = {
    val ranked = merges.sortBy(_.rank)
    text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
      var syms: Seq[String] = w.split("").toSeq :+ EndOfWord
      ranked.foreach(m => syms = applyMerge(syms, m.left, m.right))
      syms
    }
  }

  val all: Seq[Q] = Seq(
    // Round-1 pair statistics — the inner loop's aggregation, oracled
    // end-to-end in SQL (top-50 with a total order).
    Q(
      "bp1_pair_counts",
      (s, dir) => {
        val syms = toSymbols(wordFreq(Tables(s, dir, "documents"), "text"))
        pairCounts(syms)
          .orderBy(desc("pair_freq"), asc("left_sym"), asc("right_sym"))
          .limit(50)
      },
      Some("""WITH w AS (
             |  SELECT word, count(*) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |  WHERE word <> '' GROUP BY word),
             |syms AS (
             |  SELECT freq, list_append(regexp_split_to_array(word, ''), '</w>') AS s
             |  FROM w),
             |pairs AS (
             |  SELECT s[i] AS left_sym, s[i+1] AS right_sym, freq
             |  FROM syms, unnest(generate_series(1, len(s)-1)) AS t(i))
             |SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_freq
             |FROM pairs GROUP BY 1, 2
             |ORDER BY pair_freq DESC, left_sym, right_sym LIMIT 50""".stripMargin)))
  // The full trainer ([[train]]) and tokenizer ([[encode]]) are library
  // API, not registry rows: the iterative argmax-and-rewrite isn't
  // expressible in portable SQL (DuckDB's RE2 has no lookarounds, and
  // plain replace diverges from the reference left-to-right semantics
  // on chained pairs), and this registry's discipline is one oracle per
  // row. BpeTrainerSpec pins the distributed result against an
  // independent single-node reference implementation instead — the
  // same verification tier as the image/audio codec paths.
}
