package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StreamingFrame
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{SnapshotLog, SnapshotLogQueries}

/** A [[graft.operators.SnapshotLog]] as a Structured Streaming SOURCE —
  * the lakehouse ingestion loop Delta/Iceberg tables serve: a query
  * `readStream.format("snapshot-log").load(root)` follows the
  * table's commits incrementally, with the engine's own offset log
  * providing exactly-once progression (offsets ARE snapshot ids, and
  * snapshots are immutable, so any window replays identically).
  *
  * Two modes (`mode` option):
  *   - `appends` (default): emit each append-class commit's rows, read
  *     from its file diff alone ([[SnapshotLog.appendedRows]] — no
  *     shuffle, no diff join; per-batch cost is the batch's own bytes,
  *     the only cost profile that survives a 100 TB table). Layout
  *     rewrites (`optimize*`, `rewrite-deletes`, `rewrite-eq`) and
  *     metadata-only `rename`/`drop-column` commits are SKIPPED — they
  *     are read-invariant, exactly like Delta ignores
  *     `dataChange = false` file actions, so compaction never disturbs
  *     a live stream. Data-CHANGING commits (deletes, merges,
  *     overwrites, rollbacks) fail the stream unless
  *     `skipChangeCommits=true` (Delta's option of the same name) says
  *     to ignore them; a `widen` fails it unconditionally (the pinned
  *     schema cannot read the wide parquet of later appends — restart
  *     to re-pin).
  *   - `changelog`: emit every transition's full row-level delta
  *     (insert AND delete rows, `change` + `snapshot_id` columns) via
  *     [[SnapshotLog.changelog]] — the CDC feed, Delta's
  *     `readChangeFeed`.
  *
  * Other options: `startingSnapshot=<id>` opens the stream AFTER that
  * snapshot (default 0 — history from the first commit);
  * `maxSnapshotsPerTrigger=<n>` bounds each micro-batch's window
  * (admission control for a backlogged start).
  *
  * Restart semantics under rate limiting: V1 sources may not implement
  * `AcceptsLatestSeenOffset`, so after a restart the first
  * `getOffset` can undershoot the checkpointed commit (this source's
  * in-memory floor starts cold). Two guards make that harmless:
  * `getBatch` clamps its start to the highest snapshot it has ever
  * handed out (so a regressed engine offset can never RE-emit a
  * window — no duplicates), and an inverted window returns an empty
  * frame (so the one recovery micro-batch is empty rather than
  * wrong). The floor then matches the checkpoint and the stream
  * proceeds exactly-once; SnapshotStreamSpec kills and resumes a
  * rate-limited query to pin exactly that.
  *
  * The emitted schema is pinned at stream start (the manifest's
  * current schema). A schema-evolving commit inside a drained window
  * fails the batch with the real constraint — restart the query to
  * re-pin, Delta's behavior for streaming schema changes.
  *
  * Why the V1 `Source` API and not a DataSource V2 `MicroBatchStream`
  * (which the sibling [[DocStoreSource]] uses): a V2 stream hands out
  * `PartitionReader`s that must produce rows THEMSELVES — fine for
  * docstore's own wire format, wrong for batches that are whole QUERY
  * PLANS (field-id-resolving snapshot scans, equality
  * anti-joins, changelog exceptAll pairs). V1's `getBatch` returns a
  * DataFrame, so each micro-batch IS the engine-optimized plan —
  * exactly why Delta's streaming source sits on the same API. The one
  * internal touch this needs (the isStreaming re-wrap) is isolated in
  * [[org.apache.spark.sql.graft.StreamingFrame]].
  */
class SnapshotChangeProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "snapshot-log"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "snapshot-log needs a path (.load/.option(\"path\", <log root>))"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val mode = SnapshotChangeSource.modeOf(parameters)
    val derived = SnapshotChangeSource.schemaOf(
      sqlContext.sparkSession, rootOf(parameters), mode)
    // a MATCHING user schema is tolerated (the catalog's V1 streaming
    // fallback passes the table's schema through); anything else is
    // refused with the real constraint
    schema.foreach(s => require(s == derived,
      if (mode != "appends")
        "the changelog feed has extra columns (change, snapshot_id) — " +
          "read it via readStream.format(\"snapshot-log\")" +
          ".option(\"mode\", \"changelog\").load(root), not the table " +
          "identifier"
      else s"snapshot-log derives its schema from the table manifest " +
        s"($derived); the passed schema ($s) does not match"))
    (shortName(), derived)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new SnapshotChangeSource(sqlContext.sparkSession, rootOf(parameters),
      SnapshotChangeSource.modeOf(parameters),
      startFrom = parameters.get("startingSnapshot").map(_.toLong).getOrElse(0L),
      maxPerTrigger = parameters.get("maxSnapshotsPerTrigger").map(_.toLong),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.toBoolean))

  /** The WRITE direction — `writeStream.format("snapshot-log")`: each
    * micro-batch commits as one snapshot whose operation tag records
    * `stream-append=<streamId>:<batchId>` ATOMICALLY with the data
    * (the Kafka-transactional-consumer trick [[SnapshotLog.overwriteAs]]
    * uses for view cursors). Replayed batches after a crash are
    * detected from that tag alone ([[SnapshotLog.lastStreamBatch]]) and
    * skipped, so sink-side delivery is exactly-once with NO side
    * state — the log IS the write-ahead record. Pass `streamId` when
    * several queries feed one table (batch ids are per-query).
    *
    * With `mergeKeys=<k1,k2,...>` each batch is a SCAN-FREE UPSERT
    * instead ([[SnapshotLog.mergeIntoEqual]], tag
    * `stream-upsert=<streamId>:<batchId>`): the batch's key set
    * retracts matched rows by equality delete and its rows append, one
    * atomic commit, zero table reads — the Flink→Iceberg CDC ingest
    * shape, with write cost independent of table size at every
    * checkpoint. Run [[SnapshotLog.rewriteEqualityDeletes]] +
    * [[SnapshotLog.rewriteDeletes]] as periodic maintenance to fold
    * the accumulated key sets away.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "snapshot-log sink does not partition by columns; cluster with " +
        "optimize/optimizeBucketed maintenance instead")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"snapshot-log sink supports Append output only, got $outputMode " +
        "(aggregating streams: use foreachBatch with mergeInto)")
    new SnapshotLogSink(sqlContext.sparkSession, rootOf(parameters),
      parameters.getOrElse("streamId", "default"),
      mergeKeys = parameters.get("mergeKeys")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty))
  }
}

/** V1 streaming sink writing each micro-batch as one atomic
  * [[SnapshotLog]] append — see [[SnapshotChangeProvider.createSink]].
  */
private[sources] class SnapshotLogSink(
    spark: SparkSession, root: String, streamId: String,
    mergeKeys: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.execution.streaming.Sink {

  require(!streamId.contains(":") && !streamId.exists(c => c == '\t' || c == '\n'),
    s"streamId may not contain ':' or whitespace controls: $streamId")

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    // a replayed batch (post-crash re-delivery) is already durable —
    // the tag walk is the idempotence check, no side state
    if (SnapshotLog.lastStreamBatch(spark, root, streamId).exists(_ >= batchId))
      return
    val batch = StreamingFrame.batchOf(data.toDF())
    if (mergeKeys.isEmpty)
      SnapshotLog.appendAs(spark, root, batch,
        s"stream-append=$streamId:$batchId")
    else {
      // the merge handles the empty-table bootstrap itself (atomically
      // — a check-then-append here would race a concurrent first
      // commit into a retraction-free append) and retries lost races
      // identity-style, so concurrent maintenance never kills the query
      SnapshotLog.mergeIntoEqualAs(spark, root, batch,
        mergeKeys, s"stream-upsert=$streamId:$batchId")
      // an EMPTY batch merges as a no-op commit-wise; record the
      // cursor anyway so both sink modes advance the write-ahead tag
      // per batch. No-op detection reads the TAG WALK (race-proof — a
      // concurrent commit cannot carry this stream's batch id), and
      // the cursor frame is projected to the table's existing columns
      // so an empty batch never drives schema evolution the non-empty
      // batches (which project to table columns) would not
      if (!SnapshotLog.lastStreamBatch(spark, root, streamId)
          .exists(_ >= batchId)) {
        val cur = SnapshotLog.currentId(spark, root)
        val cursorFrame =
          if (cur == 0L) batch.limit(0)
          else {
            val tableCols = StructType.fromDDL(
              SnapshotLog.snapshot(spark, root, cur).schemaDdl)
              .fieldNames.filter(batch.columns.contains)
            if (tableCols.isEmpty) batch.limit(0)
            else batch.limit(0).select(tableCols.map(org.apache.spark.sql.functions.col(_)): _*)
          }
        SnapshotLog.appendAs(spark, root, cursorFrame,
          s"stream-append=$streamId:$batchId")
      }
    }
    ()
  }

  override def toString: String = s"SnapshotLogSink[$root]"
}

private[sources] object SnapshotChangeSource {

  def modeOf(parameters: Map[String, String]): String = {
    val m = parameters.getOrElse("mode", "appends")
    require(m == "appends" || m == "changelog",
      s"unknown snapshot-log mode $m (appends | changelog)")
    m
  }

  def tableSchemaOf(spark: SparkSession, root: String): StructType = {
    val cur = SnapshotLog.currentId(spark, root)
    require(cur > 0,
      s"snapshot-log on empty log $root (bootstrap with append)")
    StructType.fromDDL(SnapshotLog.snapshot(spark, root, cur).schemaDdl)
  }

  def schemaOf(spark: SparkSession, root: String, mode: String): StructType = {
    val t = tableSchemaOf(spark, root)
    if (mode == "appends") t
    else StructType(t.fields ++ Seq(
      StructField("change", StringType),
      StructField("snapshot_id", LongType, nullable = false)))
  }

  /** Commits that move or relabel bytes without changing content —
    * invisible to an appends stream, like Delta's dataChange=false.
    * `widen` is deliberately NOT here: it is content-invariant, but a
    * stream pinned to the pre-widen schema cannot read the WIDE
    * parquet of later appends (the reader would fail with a raw
    * conversion error mid-batch), so the widen commit itself fails
    * the stream with the actionable re-pin message instead.
    */
  private val ReadInvariantOps = Set(
    "optimize", "optimize-bucket", "optimize-zorder", "optimize-binpack",
    "optimize-partitioned", "optimize-sorted", "set-sort-order",
    // spec evolution and metadata-only ADD COLUMN move no rows, and a
    // pinned-schema read stays valid (the new column is simply not
    // selected) — unlike `widen`, which re-types bytes the pinned
    // reader cannot convert and so still fails the stream loudly
    "set-spec", "add-column",
    "rewrite-deletes", "rewrite-eq", "rename", "drop-column")

  private val AppendOps = Set("append", "publish-append")

  private[sources] def isReadInvariant(op: String): Boolean =
    ReadInvariantOps.contains(op)

  private[sources] def isAppend(op: String): Boolean =
    AppendOps.contains(op) || op.startsWith("stream-append=")
}

private[sources] class SnapshotChangeSource(
    spark: SparkSession, root: String, mode: String,
    startFrom: Long, maxPerTrigger: Option[Long],
    skipChangeCommits: Boolean) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import SnapshotChangeSource._

  maxPerTrigger.foreach(m =>
    require(m >= 1, s"maxSnapshotsPerTrigger must be >= 1, got $m"))

  /** The snapshot whose schema/ids this stream is pinned to — captured
    * once at source creation; every batch resolves under it. The
    * declared schema derives from the SAME snapshot (not a second
    * currentId read), so a schema-changing commit racing source
    * construction cannot wedge every batch behind a shape mismatch.
    */
  private val pinId = SnapshotLog.currentId(spark, root)
  override val schema: StructType = {
    require(pinId > 0,
      s"snapshot-log on empty log $root (bootstrap with append)")
    val t = StructType.fromDDL(
      SnapshotLog.snapshot(spark, root, pinId).schemaDdl)
    if (mode == "appends") t
    else StructType(t.fields ++ Seq(
      StructField("change", StringType),
      StructField("snapshot_id", LongType, nullable = false)))
  }

  /** Highest snapshot ever handed to a batch or durably committed —
    * the monotonic floor that makes restarts exactly-once (class doc).
    */
  @volatile private var floor: Long = startFrom

  private def offsetValue(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case s: SerializedOffset => s.json.trim.toLong
      case other => other.json.trim.toLong
    }

  /** Under Trigger.AvailableNow the engine asks the source to pin its
    * terminal offset up front; WITHOUT implementing this, the engine's
    * V1 wrapper captures ONE (rate-capped) getOffset as the terminal —
    * a capped drain would stop after its first window. Implementing it
    * keeps rate limiting and AvailableNow composable: the target is the
    * snapshot at prepare time, and capped batches walk up to it.
    */
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(SnapshotLog.currentId(spark, root))

  // SupportsTriggerAvailableNow extends SupportsAdmissionControl; the
  // engine then reads the next offset through latestOffset. One
  // implementation: getOffset already folds the availability target,
  // the rate cap, and the floor — admission control IS that cap, so
  // the ReadLimit parameter (always allAvailable for a V1 source
  // without a limit vocabulary) adds nothing. The engine passes its
  // CHECKPOINTED start here, which seeds the cold post-restart floor:
  // without it a rate-capped source could hand out an offset BELOW
  // the committed one and the engine would durably log the
  // regression (an empty recovery batch at best, a permanently
  // stalled stream if it dies right after — review-caught).
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset = {
    if (start != null) floor = math.max(floor, offsetValue(start))
    getOffset.orNull
  }

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val live = SnapshotLog.currentId(spark, root)
    val cur = availableNowTarget.map(math.min(live, _)).getOrElse(live)
    if (cur <= startFrom) return None
    val end = maxPerTrigger.map(m => math.min(cur, floor + m)).getOrElse(cur)
    if (end <= startFrom) None else Some(LongOffset(end))
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    // clamp to the floor: a post-restart engine offset that regressed
    // below a window this source already emitted must never re-emit it
    val from = math.max(start.map(offsetValue).getOrElse(startFrom), floor)
    val to = offsetValue(end)
    floor = math.max(floor, math.max(from, to))
    val out =
      if (from >= to) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (mode == "changelog") SnapshotLog.changelog(spark, root, from, to)
      else appendsBatch(from, to)
    // names + types, not nullability: lit-built columns (change tags)
    // legitimately come back non-nullable
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    require(shape(out.schema) == shape(schema),
      s"snapshot log $root changed schema inside the stream window " +
        s"($from, $to]; restart the query to re-pin the schema")
    StreamingFrame(out)
  }

  /** Drain `(from, to]` append-wise: emit append-class commits' file
    * diffs, skip read-invariant ones, and refuse data-changing ones
    * unless told to skip them — silently treating a delete as "nothing
    * to append" would let a consumer believe it saw the whole table.
    */
  private def appendsBatch(from: Long, to: Long): DataFrame =
    (from until to).map { i =>
      val id = i + 1
      val op = SnapshotLog.operationOf(spark, root, id)
      if (isAppend(op))
        Some(SnapshotLog.appendedRows(spark, root, id, schemaAt = pinId))
      else if (isReadInvariant(op)) None
      else if (op == "widen") throw new IllegalStateException(
        s"snapshot $id of $root widened a column type; the stream's " +
          "pinned schema cannot read later appends — restart the query " +
          "to re-pin the schema")
      else if (skipChangeCommits) None
      else throw new IllegalStateException(
        s"snapshot $id of $root is a data-changing commit ($op); an " +
          "appends stream cannot represent it — read mode=changelog, " +
          "or set skipChangeCommits=true to ignore such commits")
    }.flatten
      .reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  // the V1-typed overload is the one MicroBatchExecution invokes
  override def commit(
      end: org.apache.spark.sql.execution.streaming.Offset): Unit = {
    floor = math.max(floor, offsetValue(end))
  }

  override def stop(): Unit = ()
}

object SnapshotStreamQueries {

  import graft.Q

  /** sm27's staged log: evens appended, the whole table OPTIMIZE'd
    * (full rewrite — files move, content doesn't), odds appended. The
    * stream must emit every row exactly once: re-emitting the rewrite
    * (the naive file-watcher failure) doubles the evens.
    */
  private def appendsFeedLog(s: SparkSession, dir: String): String =
    graft.TempDirs.staged(s"smfeed_${graft.TempDirs.dirKey(dir)}") { p =>
      val root = p.resolve("log").toString
      val orders = graft.Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      SnapshotLog.append(s, root,
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0).repartition(3))
      SnapshotLog.optimize(s, root, "o_orderkey", 2)
      SnapshotLog.append(s, root,
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 1).repartition(3))
    }.resolve("log").toString

  val all: Seq[Q] = Seq(
    // SM26: the snapshot log as a streaming CDC SOURCE — a checkpointed
    // AvailableNow query drains the shared tt log's full changelog
    // (three appends + a CoW delete) through the V1 source into a
    // parquet sink. The oracle recomputes every transition's delta
    // relationally: a missed snapshot, a re-emitted window, or a
    // wrong change tag all break the hash.
    Q(
      "sm26_stream_changelog_feed",
      (s, dir) => {
        val root = SnapshotLogQueries.stagedOrdersLog(s, dir)
        val out = graft.TempDirs.create("graft_sm26")
        val sink = out.resolve("sink").toString
        s.readStream.format("snapshot-log")
          .option("mode", "changelog")
          .load(root)
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(sink)
          .orderBy("snapshot_id", "change", "o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |       'insert' AS change,
             |       CAST(o_orderkey % 3 + 1 AS BIGINT) AS snapshot_id
             |FROM orders
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete', 4
             |FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY snapshot_id, change, o_orderkey""".stripMargin),
      bench = false,
      stage = Some((s, dir) => { SnapshotLogQueries.stagedOrdersLog(s, dir); () })
    ),

    // SM27: the appends-only ingestion feed under admission control —
    // one snapshot per micro-batch (maxSnapshotsPerTrigger=1) over a
    // log whose middle commit is a full OPTIMIZE rewrite. The stream
    // must emit each appended row exactly once and the rewrite not at
    // all (read-invariant commits are invisible, like Delta's
    // dataChange=false): the oracle is simply the whole table, so a
    // re-emitted rewrite (doubled evens) or a skipped append breaks
    // row count and hash alike.
    Q(
      "sm27_stream_appends_feed",
      (s, dir) => {
        val root = appendsFeedLog(s, dir)
        val out = graft.TempDirs.create("graft_sm27")
        val sink = out.resolve("sink").toString
        s.readStream.format("snapshot-log")
          .option("maxSnapshotsPerTrigger", 1)
          .load(root)
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(sink).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      bench = false,
      stage = Some((s, dir) => { appendsFeedLog(s, dir); () })
    ),

    // SM28: the WRITE direction — a file stream drained INTO a snapshot
    // log through the snapshot-log sink, one admitted file per
    // micro-batch, each batch one atomic tagged commit
    // (stream-append=default:<batchId>). The oracle is the whole
    // table: a dropped batch, a double-applied replay, or a commit
    // that mixed two batches' rows all break count and hash. The
    // exactly-once replay mechanics are pinned in SnapshotStreamSpec.
    Q(
      "sm28_stream_lake_sink",
      (s, dir) => {
        val out = graft.TempDirs.create("graft_sm28")
        val landing = java.nio.file.Files.createDirectories(out.resolve("landing"))
        val orders = graft.Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        (0 to 2).foreach { b =>
          val tmp = out.resolve(s"stage_$b")
          orders.filter(pmod(col("o_orderkey"), lit(3)) === b)
            .coalesce(1).write.parquet(tmp.toString)
          val listing = java.nio.file.Files.list(tmp)
          val part =
            try listing.filter(_.getFileName.toString.endsWith(".parquet"))
              .findFirst().get()
            finally listing.close()
          java.nio.file.Files.move(part, landing.resolve(f"batch-$b%03d.parquet"))
        }
        val log = out.resolve("log").toString
        val q = s.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing.toString)
          .writeStream.format("snapshot-log")
          .option("path", log)
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        SnapshotLog.read(s, log).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      bench = false
    ),

    // SM29: SCAN-FREE streaming upserts — sm14's exact three-wave CDC
    // scenario (full table, then 'U' updates on keys ≡ 0 mod 5, then
    // 'W' updates + shifted 'Z' inserts) driven through the sink's
    // mergeKeys mode instead of a foreachBatch CoW merge, sharing
    // sm14's oracle VERBATIM: equality-merge ingestion must be
    // observationally identical to the CoW merge loop while writing
    // O(batch) bytes per commit and reading NO table data at all.
    Q(
      "sm29_stream_upsert_sink",
      (s, dir) => {
        val out = graft.TempDirs.create("graft_sm29")
        val landing = java.nio.file.Files.createDirectories(out.resolve("landing"))
        val orders = graft.Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        val wave2 = orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .withColumn("o_orderstatus", lit("U"))
        val wave3 = orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("o_orderstatus", lit("W"))
          .unionByName(
            orders.filter(pmod(col("o_orderkey"), lit(11)) === 0)
              .withColumn("o_orderkey", col("o_orderkey") + lit(20000000L))
              .withColumn("o_orderstatus", lit("Z")))
        Seq(orders, wave2, wave3).zipWithIndex.foreach { case (df, b) =>
          val tmp = out.resolve(s"stage_$b")
          df.coalesce(1).write.parquet(tmp.toString)
          val listing = java.nio.file.Files.list(tmp)
          val part =
            try listing.filter(_.getFileName.toString.endsWith(".parquet"))
              .findFirst().get()
            finally listing.close()
          java.nio.file.Files.move(part, landing.resolve(f"batch-$b%03d.parquet"))
          java.nio.file.Files.setLastModifiedTime(
            landing.resolve(f"batch-$b%03d.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 60000L))
        }
        val log = out.resolve("log").toString
        val q = s.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing.toString)
          .writeStream.format("snapshot-log")
          .option("path", log)
          .option("mergeKeys", "o_orderkey")
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        SnapshotLog.read(s, log).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |       CASE WHEN o_orderkey % 7 = 0 THEN 'W'
             |            WHEN o_orderkey % 5 = 0 THEN 'U'
             |            ELSE o_orderstatus END AS o_orderstatus
             |FROM orders
             |UNION ALL
             |SELECT o_orderkey + 20000000, o_custkey, 'Z'
             |FROM orders WHERE o_orderkey % 11 = 0
             |ORDER BY o_orderkey""".stripMargin),
      bench = false
    ),

    // SM30: sm27's appends-feed replayed THROUGH THE TABLE IDENTIFIER —
    // `readStream.table("snapcat.`root`")` resolved by the DSv2 catalog
    // and rewritten to the V1 snapshot-log source
    // (graft.plans.SnapshotStreamTableRule), sharing sm27's oracle
    // VERBATIM: the catalog door must stream exactly what the format
    // door streams, admission control and rewrite-invisibility
    // included.
    Q(
      "sm30_stream_table_read",
      (s, dir) => {
        val root = appendsFeedLog(s, dir)
        val out = graft.TempDirs.create("graft_sm30")
        val sink = out.resolve("sink").toString
        s.conf.set("spark.sql.catalog.snapcat",
          "graft.sources.SnapshotCatalog")
        s.readStream
          .option("maxSnapshotsPerTrigger", 1)
          .table(s"snapcat.`$root`")
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(sink).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      bench = false,
      stage = Some((s, dir) => { appendsFeedLog(s, dir); () })
    ),

    // SM31: sm28's lake-sink drain THROUGH THE TABLE IDENTIFIER —
    // `writeStream.format("snapshot-log").toTable("snapcat.`…`")`
    // resolves via the catalog's V1 fallback descriptor to the SAME
    // exactly-once tagged-commit sink, sharing sm28's oracle VERBATIM
    // (one atomic stream-append commit per admitted file). The table
    // is created by toTable itself (catalog createTable).
    Q(
      "sm31_stream_to_table",
      (s, dir) => {
        val out = graft.TempDirs.create("graft_sm31")
        val landing = java.nio.file.Files.createDirectories(out.resolve("landing"))
        val orders = graft.Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        (0 to 2).foreach { b =>
          val tmp = out.resolve(s"stage_$b")
          orders.filter(pmod(col("o_orderkey"), lit(3)) === b)
            .coalesce(1).write.parquet(tmp.toString)
          val listing = java.nio.file.Files.list(tmp)
          val part =
            try listing.filter(_.getFileName.toString.endsWith(".parquet"))
              .findFirst().get()
            finally listing.close()
          java.nio.file.Files.move(part, landing.resolve(f"batch-$b%03d.parquet"))
        }
        val log = out.resolve("log").toString
        s.conf.set("spark.sql.catalog.snapcat", "graft.sources.SnapshotCatalog")
        s.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing.toString)
          .writeStream.format("snapshot-log")
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"snapcat.`$log`")
          .awaitTermination()
        SnapshotLog.read(s, log).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      bench = false
    ),

    // SM32: sm26's changelog feed THROUGH THE TABLE IDENTIFIER —
    // `readStream.table("snapcat.`root`.changes")`: the CDC meta table
    // streamed live (SnapshotStreamTableRule substitutes the V1
    // changelog source and projects the declared columns by name).
    // The batch table declares no snapshot_id, so the oracle is sm26's
    // minus that column: same transitions, same change tags, proving
    // the catalog CDC door and the format CDC door never diverge.
    Q(
      "sm32_stream_changes_table",
      (s, dir) => {
        val root = SnapshotLogQueries.stagedOrdersLog(s, dir)
        val out = graft.TempDirs.create("graft_sm32")
        val sink = out.resolve("sink").toString
        s.conf.set("spark.sql.catalog.snapcat",
          "graft.sources.SnapshotCatalog")
        s.readStream
          .table(s"snapcat.`$root`.changes")
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", out.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(sink)
          .orderBy("change", "o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |       'insert' AS change
             |FROM orders
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete'
             |FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY change, o_orderkey""".stripMargin),
      bench = false,
      stage = Some((s, dir) => { SnapshotLogQueries.stagedOrdersLog(s, dir); () })
    )
  )
}
