package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.InputFileBlockHolder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** private[sql] bridge (the Delta technique, like [[DmlBridge]]): the
  * executor-side parquet machinery a DSv2 `Batch` scan needs —
  * [[ParquetFileFormat.buildReaderWithPartitionValues]] builds the
  * serializable per-file reader function `FileSourceScanExec` itself
  * runs on, row-group skipping, vectorization, and the generated
  * row-index column included. Building it here (driver-side, shipping
  * the returned closure) is what lets the snapshot-catalog scan plan
  * per-FILE partitions — the shape `SupportsRuntimeFiltering` needs —
  * without reimplementing a parquet reader.
  */
object ParquetReadBridge {

  /** The temporary column name Spark's parquet readers recognize and
    * populate with the row's position in its file (correct under
    * row-group skipping) — the coordinate system positional delete
    * vectors address.
    */
  val RowIndexColumn: String =
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  val RowIndexField: StructField = StructField(RowIndexColumn, LongType)

  /** A serializable `PartitionedFile => Iterator[InternalRow]` reading
    * `requiredSchema` under the session's parquet conf. With
    * `returningBatch=true` the iterator SECRETLY yields
    * `ColumnarBatch`es (the documented FileSourceScanExec
    * arrangement) — callers cast; valid only when [[supportBatch]]
    * held for the schema at build time.
    */
  def reader(spark: SparkSession, requiredSchema: StructType,
      filters: Seq[Filter], returningBatch: Boolean)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = requiredSchema,
      partitionSchema = new StructType(),
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> returningBatch.toString),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))

  /** Whether the vectorized (ColumnarBatch) path supports `schema`
    * under the session's conf — the gate for `returningBatch`.
    */
  def supportBatch(spark: SparkSession, schema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(spark, schema)

  def partitionedFile(path: String, size: Long, mtime: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, size, Array.empty, mtime, size)

  /** Point `input_file_name()` at `f` for the rows read next on this
    * thread, as `FileScanRDD` does per file; the holder is
    * `private[spark]`, and `DataSourceRDD` never sets it.
    */
  def setInputFile(f: PartitionedFile): Unit =
    InputFileBlockHolder.set(f.urlEncodedPath, f.start, f.length)

  def unsetInputFile(): Unit = InputFileBlockHolder.unset()

  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConfWithOptions(Map.empty)

  def serializableConf(spark: SparkSession): SerializableHadoopConf =
    new SerializableHadoopConf(hadoopConf(spark))
}

/** Hadoop `Configuration` is not `java.io.Serializable`; this is the
  * standard write/readFields envelope (what Spark's own
  * SerializableConfiguration does) so a DSv2 reader factory can ship
  * the session's conf to executors for file-status and listing calls.
  */
final class SerializableHadoopConf(
    @transient private var c: Configuration) extends Serializable {
  def value: Configuration = c
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    c.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    c = new Configuration(false)
    c.readFields(in)
  }
}
