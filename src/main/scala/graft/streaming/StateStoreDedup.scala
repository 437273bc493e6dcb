package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Exact dedup on Spark's BUILT-IN state store — the
  * `flatMapGroupsWithState` twin of [[StreamingDedup]] (sm3), which
  * keeps its fingerprint state in a parquet table the operator manages
  * itself. Here the state lives where a production 100 TB stream keeps
  * it: inside the streaming engine's per-key state store (RocksDB
  * provider when configured, HDFS-backed otherwise), versioned and
  * committed with the checkpoint, restored transparently on restart —
  * no operator-managed state files at all.
  *
  * Semantics are sm3's exactly: first-seen-wins per content
  * fingerprint (md5 of text, dd1's key), batch-internal duplicates
  * resolved min-doc_id-first, so the drained output matches dd1's
  * batch oracle verbatim when arrivals are doc_id-ordered.
  *
  * Trade-off vs the parquet-state twin (both are legitimate at scale):
  * the engine state store gives transactional state-with-offset commits
  * and incremental (RocksDB) snapshots for free, but its state is
  * private to the query — sm3's parquet state doubles as a queryable
  * canonical table. A pipeline wanting both writes the sink table AND
  * keeps the store.
  */
object StateStoreDedup {

  /** One deduped document (the sink row). */
  final case class Doc(doc_id: Long, text: String)

  /** Fingerprinted input row. PUBLIC because the generated encoder
    * deserializer instantiates it from codegen'd classes outside this
    * object — a private case class fails janino compilation at runtime
    * ("Private member cannot be accessed from SpecificSafeProjection").
    */
  final case class Keyed(fingerprint: String, doc_id: Long, text: String)

  /** Per-fingerprint state transition: first arrival (across the whole
    * stream's history — the state store carries it batch to batch and
    * across restarts) emits the group's min-doc_id row and marks the
    * fingerprint seen; every later arrival emits nothing.
    */
  private[streaming] def firstSeen(
      rows: Iterator[Keyed], state: GroupState[Long]): Iterator[Doc] =
    if (state.exists) Iterator.empty
    else {
      val first = rows.minBy(_.doc_id)
      state.update(first.doc_id)
      Iterator.single(Doc(first.doc_id, first.text))
    }

  /** Stream `landingDir`'s document files into a deduped parquet sink at
    * `outDir`. State, offsets, and sink commits all ride the one
    * checkpoint — kill the query at any batch boundary and a restart
    * resumes with the fingerprints it had.
    */
  def dedupStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val keyed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .select(md5(col("text")).as("fingerprint"), col("doc_id"), col("text"))
      .as[Keyed]
    keyed.groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Long, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Keyed], state: GroupState[Long]) => firstSeen(rows, state)
      }
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Run [[dedupStream]] to drain under the RocksDB state store
    * provider (the incremental-snapshot store a production deployment
    * uses), restoring the session's previous provider afterwards so
    * sibling queries keep their configuration.
    */
  def dedupStreamRocksDb(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      outDir: String,
      checkpointDir: String): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try dedupStream(spark, landingDir, schema, outDir, checkpointDir)
      .awaitTermination()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
