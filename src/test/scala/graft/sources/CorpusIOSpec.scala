package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-trip fidelity for the corpus format: JSONL round-trips nested
  * structures under a declared schema.
  */
class CorpusIOSpec extends SparkSpec {

  test("JSONL round-trips nested array<struct> under a declared schema") {
    import spark.implicits._
    val nested = Seq(
      (1L, Seq(("salt", 1.5), ("flour", 250.0))),
      (2L, Seq.empty[(String, Double)]),
      (3L, Seq(("\"quoted\" näme", -0.5)))
    ).toDF("id", "items")
      .select(col("id"),
        col("items").cast("array<struct<name:string,qty:double>>"))
    val dir = Files.createTempDirectory("jsonl").toString + "/nested"
    CorpusIO.writeJsonl(nested, dir)
    val back = CorpusIO.readJsonl(spark, dir, nested.schema)
    assert(rowSet(back) === rowSet(nested))
  }
}
