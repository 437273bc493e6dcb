package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental exact dedup: the streaming face of `Dedup.dd1`. New
  * document batches are fingerprinted (md5 of content — the same key
  * dd1 groups by), deduped within the batch, anti-joined against the
  * persistent fingerprint state, and only first-seen documents are
  * appended to the canonical store.
  *
  * This is the operational shape content dedup takes at 100 TB: the
  * state table holds one (fingerprint, doc_id) row per unique document
  * ever seen — far smaller than the corpus — and each micro-batch does
  * one broadcast-or-shuffle anti-join against it instead of any
  * recomputation over history. Batch-internal duplicates are resolved
  * min-doc_id-first, matching dd1's keep-smallest rule.
  */
object StreamingDedup {

  /** State-existence probe through Hadoop's FileSystem API, so the state
    * dir can live on ANY supported filesystem (hdfs://, s3a://, file:)
    * — a plain java.io.File check silently returns false for non-local
    * URIs, which would skip the history anti-join every batch and break
    * the dedup guarantee exactly where it matters.
    */
  private def stateExists(spark: SparkSession, stateDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Dedup one batch against the state dir; returns the new canonical
    * rows that were appended. Idempotent per unique content.
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, stateDir: String): DataFrame = {
    val fingerprinted = batch
      .withColumn("fingerprint", md5(col("text")))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
    val fresh =
      if (stateExists(spark, stateDir)) {
        val seen = spark.read.parquet(stateDir).select("fingerprint")
        fingerprinted.join(seen, Seq("fingerprint"), "left_anti")
      } else fingerprinted
    // sever lineage BEFORE appending: the returned frame must not
    // re-evaluate its anti-join against a state dir that now already
    // contains this batch's rows
    val materialized = fresh.localCheckpoint(true)
    materialized.write.mode("append").parquet(stateDir)
    materialized
  }

  /** Incremental NEAR-dup suppression: the streaming twin of `Dedup.dd6`.
    * State is the LSH bucket table of every accepted document — one
    * (band, sig, doc_id) row per band (8 longs/doc, far smaller than the
    * corpus). A new document is suppressed iff any of its 8 band
    * signatures collides with state (the same 1-(1-J^13)^8 candidate
    * rule the batch pipeline bands on — a 0.9-Jaccard near-dup that is
    * NOT byte-identical still collides with ≥ 0.9 probability);
    * batch-internal near-dups resolve min-doc_id-first via one
    * label-propagation pass over shared buckets (dd6's rule). Accepted
    * documents' buckets are appended to state; each micro-batch is one
    * semi-join + one anti-join against state, no recomputation over
    * history.
    *
    * Returns the accepted (canonical) rows of the batch.
    */
  def nearDedupBatch(spark: SparkSession, batch: DataFrame, stateDir: String): DataFrame = {
    // eager: the band-sig pipeline (two aggregations) runs once, and the
    // later state append must not re-evaluate it against updated state
    val sigs = graft.operators.Dedup.bandSignatures(batch).localCheckpoint(true)
    val survivors =
      if (stateExists(spark, stateDir)) {
        val seen = spark.read.parquet(stateDir).select("band", "sig")
        val hit = sigs.join(seen, Seq("band", "sig"), "left_semi")
          .select("doc_id").distinct()
        sigs.join(hit, Seq("doc_id"), "left_anti")
      } else sigs
    // batch-internal: min doc_id over shared buckets keeps one canonical
    // doc per near-dup group arriving in the same batch
    val reps = survivors.groupBy("band", "sig").agg(min("doc_id").as("rep"))
    val keep = survivors.join(reps, Seq("band", "sig"))
      .groupBy("doc_id").agg(min("rep").as("cluster_rep"))
      .filter(col("doc_id") === col("cluster_rep"))
      .select("doc_id")
    val acceptedSigs = survivors.join(keep, Seq("doc_id"))
      .select("band", "sig", "doc_id")
      .localCheckpoint(true)
    acceptedSigs.write.mode("append").parquet(stateDir)
    batch.join(acceptedSigs.select("doc_id").distinct(), Seq("doc_id"))
  }

  /** Always-on variant: stream a landing directory of document parquet
    * files into the canonical store with exactly-once-per-file semantics.
    */
  def dedupStream(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(landingDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dedupBatch(batch.sparkSession, batch, stateDir): Unit
      }
      .start()
}
