package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted-index construction and positional phrase search — the
  * retrieval-side primitives of a corpus pipeline (term lookup,
  * contamination probes by phrase, boolean search over a crawl).
  *
  * Scale design (100 TB):
  *   - The index is BUILT as a distributed table partitioned by term —
  *     one explode + one map-side-combined aggregation; postings never
  *     pass through the driver. At warehouse scale you'd write
  *     [[postings]] bucketed by term so lookups are single-partition
  *     probes; the registry row emits the per-term DIGEST (df/cf/
  *     min/max/checksums) because collecting full posting arrays is
  *     exactly what a 100 TB index must never do.
  *   - Phrase search joins the OCCURRENCE table against itself once per
  *     phrase term, but only AFTER filtering to the phrase's terms —
  *     the scan prunes to |phrase| postings lists (pushed IN-filter),
  *     so join input is the postings of the rarest terms, not the
  *     corpus. Position arithmetic (`pos + i`) turns adjacency into an
  *     equi-join key: (doc, pos) — co-partitioned, no range or
  *     nested-loop join anywhere.
  *
  * Reference anchor: generalizes the reference's per-recipe ingredient
  * search (src/query_data.py Q1's GROUP BY over exploded ingredients)
  * from frequency counting to position-aware retrieval.
  */
object InvertedIndex {

  /** (doc_id, pos, tok) occurrence rows, pos 1-based, empties dropped. */
  def occurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("tok"))
      .filter(col("tok") =!= "")

  /** The positional index: one row per (term, doc) with the sorted
    * in-doc position list — the shape you bucket by term and write.
    */
  def postings(docs: DataFrame): DataFrame =
    occurrences(docs)
      .groupBy(col("tok").as("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Docs containing `terms` as an exact adjacent phrase: one self-join
    * per extra term on the (doc, pos+i) equi-key, occurrence table
    * pre-filtered to the phrase's terms.
    */
  def phraseSearch(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phrase must have at least one term")
    val occ = occurrences(docs).filter(col("tok").isin(terms: _*))
    val first = occ.filter(col("tok") === terms.head)
      .select(col("doc_id"), col("pos"))
    val matches = terms.zipWithIndex.tail.foldLeft(first) {
      case (acc, (t, i)) =>
        val nxt = occ.filter(col("tok") === t)
          .select(col("doc_id").as("d"), (col("pos") - i).as("p"))
        acc.join(nxt, acc("doc_id") === col("d") && acc("pos") === col("p"))
          .select(acc("doc_id"), acc("pos"))
    }
    matches.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
  }

  private val OracleOcc =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |occ AS (SELECT doc_id, pos, tok FROM (
      |  SELECT doc_id, CAST(unnest(range(1, len(l)+1)) AS INT) AS pos,
      |         unnest(l) AS tok FROM t)
      |  WHERE tok <> '')
      |""".stripMargin

  val all: Seq[Q] = Seq(
    // IX1: per-term index digest — df/cf/bounds plus two posting
    // checksums, the verifiable summary of the distributed index
    // (the full postings are a build artifact, not a result set).
    // Two-stage aggregation: pre-grouping by (term, doc) makes every
    // doc-level stat a plain agg over unique rows, so the plan has NO
    // Expand stream (countDistinct mixed with plain aggs would) and
    // both stages combine map-side.
    Q(
      "ix1_inverted_index",
      (s, dir) =>
        occurrences(Tables(s, dir, "documents"))
          .groupBy(col("tok").as("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"), sum(col("pos")).as("ps"))
          .groupBy(col("term"))
          .agg(
            count(lit(1)).as("df"),
            sum(col("tf")).as("cf"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"),
            // occurrence-weighted: each of a doc's tf occurrences
            // contributes doc_id once (the full gate caught the
            // unweighted sum(doc_id) drifting from the oracle)
            sum(col("doc_id") * col("tf")).as("doc_sum"),
            sum(col("ps")).as("pos_sum"))
          .orderBy("term"),
      Some(OracleOcc +
        """SELECT tok AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          |  CAST(count(*) AS BIGINT) AS cf,
          |  CAST(min(doc_id) AS BIGINT) AS min_doc,
          |  CAST(max(doc_id) AS BIGINT) AS max_doc,
          |  CAST(sum(doc_id) AS BIGINT) AS doc_sum,
          |  CAST(sum(pos) AS BIGINT) AS pos_sum
          |FROM occ GROUP BY tok ORDER BY tok""".stripMargin)
    ),
    // IX2: positional phrase search for "batch stream" — adjacency as
    // an equi-join over the pruned occurrence table.
    Q(
      "ix2_phrase_search",
      (s, dir) =>
        phraseSearch(Tables(s, dir, "documents"), Seq("batch", "stream"))
          .orderBy("doc_id"),
      Some(OracleOcc +
        """SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches,
          |  MIN(a.pos) AS first_pos
          |FROM occ a JOIN occ b
          |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok = 'stream'
          |WHERE a.tok = 'batch'
          |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)
    ),

    // IX3: BM25-ranked retrieval (k1=1.2, b=0.75, Lucene's +1 idf) for
    // an OR query — the scoring tier above ix1/ix2. Only the query's
    // terms survive the first filter, so every join input is
    // postings-sized, never corpus-sized; df comes from counting the
    // already-unique (doc, term) tf rows; the length norm uses
    // len·N/Σlen (exact integer product, one double division) instead
    // of a pre-divided avgdl so no intermediate rounding leaks in.
    // Per-term contributions are fixed-point-rounded to 1e-6 longs
    // BEFORE the per-doc sum (tx14's order-free discipline), and the
    // top-20 is TakeOrdered with a doc_id tie-break — deterministic
    // end to end. 100 TB: docLen is a corpus-wide (doc, len) table —
    // one map-side-combined agg — and everything downstream is
    // O(postings of 3 terms).
    Q(
      "ix3_bm25_search",
      (s, dir) => {
        val terms = Seq("spark", "join", "window")
        val k1 = 1.2
        val b = 0.75
        val occ = occurrences(Tables(s, dir, "documents"))
        val docLen = occ.groupBy("doc_id").agg(count(lit(1)).as("len"))
        val stats = docLen.agg(
          count(lit(1)).as("n_docs"), sum("len").as("n_toks"))
        val tf = occ.filter(col("tok").isin(terms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        // idf per TERM through LnExact (libm-free ln — the idf is the
        // only transcendental in BM25; everything else is exact-int
        // ratios, so the rounded contribution is engine-identical)
        val idf = graft.functions.LnExact.withLn(
          dfT.crossJoin(stats),
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0, "idf")
          .select("tok", "idf")
        val contrib = tf
          .join(broadcast(idf), "tok")
          .join(docLen, "doc_id")
          .crossJoin(broadcast(stats))
          .select(
            col("doc_id"),
            round(
              col("idf") *
                (col("tf") / (col("tf") + lit(k1) * (lit(1.0 - b) +
                  lit(b) * (col("len") * col("n_docs")).cast("double") / col("n_toks")))) *
                1000000.0).cast("long").as("c6"))
        contrib.groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms_hit"), sum("c6").as("score6"))
          .orderBy(desc("score6"), asc("doc_id"))
          .limit(20)
      },
      Some(OracleOcc +
        s""", dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM occ GROUP BY doc_id),
          |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(len) AS BIGINT) AS n_toks FROM dl),
          |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM occ
          |       WHERE tok IN ('spark', 'join', 'window') GROUP BY doc_id, tok),
          |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
          |idf AS (SELECT tok,
          |  ${graft.functions.LnExact.duckCols("((n_docs - df + 0.5) / (df + 0.5) + 1.0)", "idf")}
          |        FROM dfs CROSS JOIN st),
          |c AS (SELECT doc_id,
          |        CAST(round(idf *
          |          (tf / (tf + 1.2 * (1.0 - 0.75 +
          |            0.75 * CAST(len * n_docs AS DOUBLE) / n_toks))) * 1000000) AS BIGINT) AS c6
          |      FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
          |  CAST(sum(c6) AS BIGINT) AS score6
          |FROM c GROUP BY doc_id
          |ORDER BY score6 DESC, doc_id ASC LIMIT 20""".stripMargin)
    )
  )
}
