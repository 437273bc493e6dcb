package graft.operators

import graft.SparkSpec

/** Window arithmetic invariants of the chunker: full coverage of every
  * token, correct overlap, exactly-one-chunk short docs, and stable
  * content hashes.
  */
class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, nWords: Int) =
    (id, (0 until nWords).map(i => s"w$i").mkString(" "))

  test("short documents yield exactly one chunk of their full length") {
    val out = Chunking.chunk(Seq(doc(1, 5), doc(2, 32)).toDF("doc_id", "text"))
      .select("doc_id", "chunk_idx", "n_tokens")
      .as[(Long, Int, Int)].collect().toSet
    assert(out === Set((1L, 0, 5), (2L, 0, 32)))
  }

  test("windows cover every token and advance by the stride") {
    val nWords = 100 // last_k = ceil(68/24) = 3 -> 4 chunks
    val rows = Chunking.chunk(Seq(doc(1, nWords)).toDF("doc_id", "text"))
      .select("chunk_idx", "n_tokens").as[(Int, Int)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2, 3))
    val covered = rows.flatMap { case (k, n) =>
      (k * Chunking.Stride) until (k * Chunking.Stride + n)
    }.toSet
    assert(covered === (0 until nWords).toSet, "every token in some chunk")
    // interior windows are full-width => overlap of width - stride
    assert(rows.init.forall(_._2 === Chunking.Width))
  }

  test("chunk hashes identify content: same text, same hashes; shifted text differs") {
    val a = Chunking.chunk(Seq(doc(1, 60)).toDF("doc_id", "text"))
      .select("chunk_idx", "chunk_hash").as[(Int, Long)].collect().toMap
    val b = Chunking.chunk(Seq(doc(2, 60)).toDF("doc_id", "text"))
      .select("chunk_idx", "chunk_hash").as[(Int, Long)].collect().toMap
    assert(a === b, "identical text chunks hash identically across docs")
    val shifted = Chunking.chunk(
      Seq((3L, (1 until 61).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text"))
      .select("chunk_idx", "chunk_hash").as[(Int, Long)].collect().toMap
    assert(a.keySet === shifted.keySet && a.forall { case (k, h) => shifted(k) != h })
  }

  test("chunking is a pure map stage: no shuffle in the plan") {
    val plan = Chunking.chunk(Seq(doc(1, 80)).toDF("doc_id", "text"))
      .queryExecution.executedPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty, s"chunking must not shuffle:\n$plan")
  }
}
