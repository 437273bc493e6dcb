package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document chunking — the window-split every context-bounded consumer
  * of a corpus runs (training sequence windows, RAG passage indexing):
  * each document becomes overlapping fixed-width token windows with a
  * stable (doc_id, chunk_idx) identity and a content checksum.
  *
  * Execution is a per-row projection + one `posexplode` over the start
  * offsets — no shuffle, no state, fully codegen'd built-ins
  * (split/slice/concat_ws/md5), so at 100 TB it is a pure map stage that
  * scales with input splits; the output inherits the scan's partitioning
  * so a downstream write preserves input locality. Window arithmetic is
  * integer-only ((w-width+stride-1) div stride) so both engines derive
  * the same chunk count without float-ceil edge cases.
  *
  * Chunk identity follows the corpus hash convention (first 8 md5 hex
  * digits as a BIGINT — Sampling/Dedup/Decontamination use the same
  * slice) so chunk equality is testable cross-engine without shipping
  * chunk text through the driver compare.
  */
object Chunking {

  /** Token window width and stride (overlap = width - stride). */
  val Width = 32
  val Stride = 24

  /** (doc_id, chunk_idx, n_tokens, chunk_hash) for any (doc_id, text)
    * frame. Every doc yields at least one chunk (possibly shorter than
    * `width`); tail windows start at stride multiples while they add
    * new tokens.
    */
  def chunk(docs: DataFrame, width: Int = Width, stride: Int = Stride): DataFrame = {
    val words = split(col("text"), " ")
    val w = size(words)
    // last start index k: covers tokens beyond the first window —
    // (w - width) rounded UP to a stride multiple, 0 when w <= width
    // Column./ is float division — go through floor+cast for the
    // integer ceil-divide so Spark and DuckDB's `//` agree exactly
    val lastK =
      floor((greatest(w - width, lit(0)) + (stride - 1)) / stride).cast("int")
    docs
      .select(col("doc_id"), words.as("words"), w.as("w"), lastK.as("last_k"))
      .select(
        col("doc_id"), col("words"), col("w"),
        posexplode(sequence(lit(0), col("last_k"))).as(Seq("chunk_idx", "k")))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        least(lit(width), col("w") - col("k") * stride).as("n_tokens"),
        conv(
          substring(
            md5(concat_ws(" ", slice(col("words"), col("k") * stride + 1, lit(width)))),
            1, 8),
          16, 10).cast("long").as("chunk_hash"))
  }

  val all: Seq[Q] = Seq(
    // Overlapping 32-token windows (stride 24) over the document corpus.
    Q(
      "ch1_chunk_windows",
      (s, dir) =>
        chunk(Tables(s, dir, "documents").select("doc_id", "text"))
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
              |ws AS (SELECT doc_id, words, len(words) AS n_words,
              |         (greatest(len(words) - $Width, 0) + ${Stride - 1}) // $Stride AS last_k
              |       FROM d),
              |ks AS (SELECT doc_id, words, n_words,
              |         unnest(generate_series(0, last_k)) AS k
              |       FROM ws)
              |SELECT doc_id,
              |  CAST(k AS INT) AS chunk_idx,
              |  CAST(least($Width, n_words - k * $Stride) AS INT) AS n_tokens,
              |  CAST('0x' || substr(md5(array_to_string(
              |    words[k * $Stride + 1 : k * $Stride + $Width], ' ')), 1, 8) AS BIGINT) AS chunk_hash
              |FROM ks
              |ORDER BY doc_id, chunk_idx""".stripMargin)
    )
  )
}
