package graft.recipes

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV source/sink with the reference's serialization quirks (SURVEY.md
  * §2.1 S4–S7, S10).
  *
  * The reference writes CSVs with Python's `csv.DictWriter`
  * (src/etl_pipeline.py:128-134) after `str(...)`-casting values in the
  * serverless path (cloud_function/main.py:57,72,99). The observable edge
  * cases, all reproduced here:
  *   - timestamps stringify as `2025-11-20 12:35:20.676026+00:00`
  *     (Python `str(datetime)` in UTC);
  *   - a null `rating` serializes as the empty string
  *     (src/etl_pipeline.py:95);
  *   - Python numbers print without a trailing `.0` when whole
  *     (quantity `300`, not `300.0`, but `0.5` stays `0.5`);
  *   - minimal quoting (only fields containing the delimiter/quote).
  *
  * Scale note: a real lake write uses `df.write.csv(dir)` with one file
  * per partition; `coalesce(1)` here mirrors the reference's
  * one-file-per-table layout and is only sane at reference scale.
  */
object CsvIO {

  /** Python-`str(datetime)` formatting in UTC. */
  private val PyTimestampFormat = "yyyy-MM-dd HH:mm:ss.SSSSSSxxx"

  /** Stringify one column the way the reference's Python does. */
  private def pyString(f: StructField): Column = f.dataType match {
    case TimestampType => date_format(col(f.name), PyTimestampFormat)
    case DoubleType | FloatType =>
      // Python prints whole floats without the fraction: 300, not 300.0
      when(col(f.name).isNull, lit(null))
        .when(col(f.name) === col(f.name).cast("bigint"),
          col(f.name).cast("bigint").cast("string"))
        .otherwise(col(f.name).cast("string"))
    case _ => col(f.name).cast("string")
  }

  /** Apply Python stringification to every column (order preserved). */
  def stringified(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map(f => pyString(f).as(f.name)).toIndexedSeq: _*)

  /** Write one table as a single headered CSV file at `path`
    * (S4: csv.DictWriter with declared header, one file per table).
    * Nulls become empty strings (DictWriter behavior for None).
    */
  def writeTable(df: DataFrame, path: String): Unit =
    stringified(df)
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("header", true)
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)

  /** S7: headered CSV read, all columns as nullable strings — exactly what
    * `csv.DictReader` hands the reference's validator
    * (src/data_validation.py:30-36). Empty fields arrive as "" there; Spark
    * reads them as null, so the validator's empty-checks treat null and ""
    * alike.
    *
    * The caller declares the file's columns, so Spark runs no
    * header-inference job. `enforceSchema=false` still checks each file's
    * header against them: a renamed or reordered column fails the read
    * with "CSV header does not conform to the schema".
    */
  def readStrings(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    spark.read
      .option("header", true)
      .option("enforceSchema", false)
      .schema(StructType(columns.map(StructField(_, StringType))))
      .csv(path)

  /** Typed CSV read with a declared schema (the warehouse-load side). */
  def readTyped(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", true)
      .option("timestampFormat", PyTimestampFormat)
      .schema(schema)
      .csv(path)
}
