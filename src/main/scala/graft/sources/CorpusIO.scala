package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Corpus-interchange JSONL (one JSON object per line) — the de-facto
  * wire format for document corpora — beside the parquet/CSV/JSON the
  * rest of the library already exercises (`Tables`, `recipes.CsvIO`,
  * `recipes.Normalize.readDocs`). Readers take an EXPLICIT schema:
  * schema inference on JSON is a full extra pass over the data at
  * 100 TB AND silently widens/narrows types when a batch happens to
  * miss a field; a declared schema is both the fast path and the
  * contract.
  */
object CorpusIO {

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "gzip").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
