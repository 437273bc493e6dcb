package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ApplyFunctionExpression, BoundReference, Literal}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.graft.{ParquetWriteBridge, SerializableHadoopConf}
import org.apache.spark.sql.types.StructType

/** The data files one task wrote, as (path relative to the log root,
  * bytes) in the order they were rolled — empty for a task that never
  * opened a writer.
  */
private[graft] case class SnapshotWriteMessage(files: Seq[(String, Long)])
  extends WriterCommitMessage

/** The one writer of snapshot-log data files. Library commits run it
  * through [[SnapshotFileWriter.write]]; the SQL door's DSv2 batch write
  * hands it to Spark as its `DataWriterFactory`. Each task writes its
  * rows straight to final parquet paths
  * ([[org.apache.spark.sql.graft.ParquetWriteBridge]]): files become
  * visible by manifest, not by directory listing, so a crashed or
  * speculative attempt leaks at worst an orphan file for vacuum.
  *
  * A task opens its first file lazily (an empty task writes none). When
  * `roll` names partition fields it rolls to a new file whenever a row's
  * transform tuple differs from the previous row's; rows arrive grouped
  * by that tuple, so every file then carries a point band on each field
  * — the layout SPJ, bucket pruning and time-band pruning read. The
  * tuple is what the catalog's own V2 transform functions
  * ([[graft.sources.SnapshotFunctions]]) return, so a file boundary and
  * an SPJ partition key are one evaluation. A null key is its own value
  * (`bucket` hashes a null column to the seed's bucket, the other
  * transforms return null), exactly as the routing expressions do. File
  * names embed (partition, task, roll sequence) plus a uuid, so attempts
  * never collide and only the committed attempt's message reaches the
  * manifest.
  */
private[graft] class SnapshotWriterFactory(root: String, dataDir: String,
    schema: StructType, roll: Seq[SnapshotLog.PartField],
    factory: OutputWriterFactory, conf: SerializableHadoopConf)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {

    private val keys: Array[InternalRow => AnyRef] = roll.map { f =>
      val i = schema.fieldIndex(f.column)
      val dt = schema(i).dataType
      val c = BoundReference(i, dt, nullable = true)
      val fn = ApplyFunctionExpression(
        graft.sources.SnapshotFunctions.bound(f, dt),
        if (f.transform == "bucket") Seq(Literal(f.n), c) else Seq(c))
      (r: InternalRow) => fn.eval(r).asInstanceOf[AnyRef]
    }.toArray

    private var writer: OutputWriter = null
    private var rel: String = null
    private val done = Seq.newBuilder[(String, Long)]
    private var seq = 0
    private var cur: Array[AnyRef] = null

    /** Whether `r`'s key tuple differs from the previous row's. */
    private def rolls(r: InternalRow): Boolean = {
      val k = keys.map(_(r))
      val changed = cur != null && !java.util.Arrays.equals(k, cur)
      cur = k
      changed
    }

    private def closeFile(): Unit = if (writer != null) {
      writer.close(); writer = null
      val p = new Path(s"$root/$rel")
      done += rel -> p.getFileSystem(conf.value).getFileStatus(p).getLen
      rel = null
    }

    override def write(r: InternalRow): Unit = {
      val roll = keys.nonEmpty && rolls(r)
      if (writer == null || roll) {
        closeFile()
        rel = f"$dataDir/part-$partitionId%05d-$taskId-$seq%04d-" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.snappy.parquet"
        seq += 1
        writer = ParquetWriteBridge.open(factory, conf.value, s"$root/$rel", schema)
      }
      writer.write(r)
    }

    override def commit(): WriterCommitMessage = {
      closeFile()
      SnapshotWriteMessage(done.result())
    }

    override def abort(): Unit = {
      close()
      val fs = new Path(root).getFileSystem(conf.value)
      (done.result().map(_._1) ++ Option(rel)).foreach { rel =>
        try fs.delete(new Path(s"$root/$rel"), false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    override def close(): Unit =
      if (writer != null) { writer.close(); writer = null }
  }
}

private[graft] object SnapshotFileWriter {

  /** A fresh data dir for a commit that expects to land at snapshot
    * `id` (a lost race keeps the name; the `__seq` stat pins the truth).
    */
  def freshDir(id: Long): String =
    s"data/c${id}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** The writer factory for `schema`'s rows under `root/dataDir`,
    * rolling on the fields of `spec` whose column `schema` carries.
    */
  def factory(spark: SparkSession, root: String, dataDir: String,
      schema: StructType, spec: Seq[SnapshotLog.PartField])
      : SnapshotWriterFactory = {
    val (parquet, conf) = ParquetWriteBridge.writerFactory(spark, schema)
    new SnapshotWriterFactory(root, dataDir, schema,
      spec.filter(f => schema.fieldNames.contains(f.column)), parquet, conf)
  }

  /** Writes each of `df`'s partitions through one task of the writer,
    * all inside one SQL execution, and returns every task's files in
    * partition order. Rolling on `roll` needs rows grouped by its
    * transform tuple within each partition; the caller sorts for it.
    */
  def write(spark: SparkSession, root: String, dataDir: String,
      df: DataFrame, roll: Seq[SnapshotLog.PartField]): Seq[(String, Long)] = {
    val writers = factory(spark, root, dataDir, df.schema, roll)
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("snapshot-log data write")) {
      spark.sparkContext.runJob(qe.toRdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val w = writers.createWriter(ctx.partitionId(), ctx.taskAttemptId())
          try {
            rows.foreach(w.write)
            w.commit().asInstanceOf[SnapshotWriteMessage].files
          } catch {
            case t: Throwable => w.abort(); throw t
          } finally w.close()
        }).toSeq.flatten
    }
  }
}
