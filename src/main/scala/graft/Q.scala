package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** One registered engine query.
  *
  * @param name   stable key used by the driver's Verify/Bench harness
  * @param fn     (session, sfDir) => result; sfDir holds the parquet tables
  * @param oracle equivalent ANSI SQL runnable by DuckDB on the same tables;
  *               None for operators not expressible in portable SQL (the
  *               driver then records a weaker rows-only check)
  * @param bench  include in the timed benchmark sweep
  * @param stage  optional idempotent setup (scenario inputs the operator
  *               consumes but is not itself — st3's partitioned lake,
  *               st4's bucketed tables, lk1's fragmented input). Bench
  *               runs it OUTSIDE the timed window so the recorded time is
  *               the operator, not its fixture write; `fn` must also call
  *               it (idempotently) so Verify and ad-hoc use need no
  *               separate step.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true,
    stage: Option[(SparkSession, String) => Unit] = None)

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan; Catalyst pushes projections/filters into the scan.
    *
    * Timestamp physical types have varied across driver testdata
    * generations, so every read is normalized to plain `TimestampType`
    * (UTC-instant) columns:
    *   - TIMESTAMP(NANOS) parquet arrives as a nano-epoch LongType (via
    *     spark.sql.legacy.parquet.nanosAsLong=true, set by every graft
    *     session); we truncate to microseconds — integer DIV, the same
    *     narrowing DuckDB applies to its micro timestamps.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    *     TIMESTAMP_NTZ under Spark 4's parquet inference; functions like
    *     `unix_micros` reject NTZ, so we cast to TimestampType — under
    *     the session's UTC zone the cast is value-preserving and matches
    *     DuckDB's naive read of the same bytes.
    * Both rewrites happen above the scan, so pushdown/pruning on other
    * columns is unaffected.
    *
    * The schema is inferred once per (session, path): a read without a
    * schema runs a one-task Spark job that opens a footer, and a
    * registry query reads several tables. Later reads pass the inferred
    * schema, which runs no job. The memo entry carries the signature of
    * the relation it came from: every leaf file's path, length and
    * modification time (the file index the read lists anyway), plus
    * every session conf whose key contains `parquet`, because those
    * confs (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
    * `nanosAsLong`, `mergeSchema`, ...) change what inference returns.
    * A read with the stored schema whose signature differs (files
    * rewritten or added, a conf changed) is dropped unexecuted and read
    * again with inference, which replaces the entry.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schemas = memoOf(spark).schemas
    def inferred(): DataFrame = {
      val df = spark.read.parquet(path)
      schemaSig(df).foreach(sig => schemas.put(path, (sig, df.schema)))
      df
    }
    val df = schemas.get(path) match {
      case null => inferred()
      case (sig, known) =>
        val hit = spark.read.schema(known).parquet(path)
        if (schemaSig(hit).contains(sig)) hit else inferred()
    }
    normalize(df)
  }

  /** Per-session memo of [[apply]]'s schemas (path -> (signature,
    * schema)) and [[spread]]'s split counts (signature -> count).
    * Sessions are weakly keyed: test suites churn sessions and must not
    * accumulate entries.
    */
  private final class Memo {
    val schemas = new ConcurrentHashMap[String, (String, StructType)]()
    val parts = new ConcurrentHashMap[String, Integer]()
  }

  private val memos = new java.util.WeakHashMap[SparkSession, Memo]()

  private def memoOf(spark: SparkSession): Memo =
    memos.synchronized(memos.computeIfAbsent(spark, _ => new Memo))

  /** The file relation under an analyzed plan of Projects and Filters
    * over ONE file scan, if it is one.
    */
  private def nearScan(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
    case p: Project => nearScan(p.child)
    case f: Filter => nearScan(f.child)
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation => Some(h)
      case _ => None
    }
    case _ => None
  }

  /** Path, length and modification time of every leaf file the
    * relation's index listed, plus the session confs `keep` selects.
    */
  private def signature(rel: HadoopFsRelation, keep: String => Boolean): Option[String] =
    rel.location match {
      case idx: PartitioningAwareFileIndex =>
        val files = idx.allFiles()
          .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").sorted
        val confs = rel.sparkSession.sessionState.conf.getAllConfs
          .filter { case (k, _) => keep(k) }.toSeq.sorted
        Some((files ++ confs.map { case (k, v) => s"$k=$v" }).mkString("\n"))
      case _ => None
    }

  private def schemaSig(df: DataFrame): Option[String] =
    nearScan(df.queryExecution.analyzed).flatMap(signature(_, _.contains("parquet")))

  /** The confs `FilePartition` packs splits by. */
  private val SplitConfs = Set("spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum", "spark.sql.leafNodeDefaultParallelism")

  /** Round-robin a frame out to HALF the session's shuffle parallelism
    * iff its scan is narrower than that (identity otherwise — at
    * cluster scale a table arrives as many splits and no reshuffle is
    * ever added). At bench SFs every table is ONE parquet split (single
    * row group), so any query whose map side does real per-row work
    * (digesting, joins feeding partial aggregation, scoring) otherwise
    * runs that stage serially in one task. Width = half parallelism
    * with floor 4: the Dedup width sweep at 32 cores measured wall /
    * task-s of 2.6/3.5 serial, 0.67/3.3 at 8, 0.57/4.4 at 16,
    * 0.72/10.8 at 32 — full SMT width triples CPU through memory
    * contention, half keeps task-seconds near the serial floor while
    * taking ~all of the wall win, at any SPARK_GRAFT_CPUS the driver
    * sweeps.
    */
  def spread(df: DataFrame): DataFrame = {
    val n = math.max(4, df.sparkSession.sessionState.conf.numShufflePartitions / 2)
    if (scanParts(df) >= n) df else df.repartition(n)
  }

  /** Split count of `df`'s scan. The `df.rdd` probe forces a full
    * physical planning + RDD conversion of the subtree per call (ADVICE
    * r16), so a NEAR-SCAN frame ([[nearScan]]: projections/filters,
    * which never change split packing on these unpartitioned tables)
    * is memoized per session on its relation's signature: the leaf
    * files as in [[apply]], the confs split packing reads, and the
    * leaf default parallelism `minPartitionNum` falls back to. One
    * probe per input table per session then covers every such caller.
    * Any other frame (a coalesce, a join, an aggregate over the same
    * files) gets its own probe: its partitioning is not the file set's.
    */
  private def scanParts(df: DataFrame): Int = {
    val s = df.sparkSession
    nearScan(df.queryExecution.analyzed).flatMap(signature(_, SplitConfs)) match {
      case None => df.rdd.getNumPartitions
      case Some(files) =>
        val key = s"$files\nparallelism=${s.sparkContext.defaultParallelism}"
        val parts = memoOf(s).parts
        Option(parts.get(key)).map(_.intValue).getOrElse {
          val p = df.rdd.getNumPartitions
          parts.put(key, Integer.valueOf(p))
          p
        }
    }
  }

  /** Normalize timestamp-bearing columns to `TimestampType` (see [[apply]]).
    * Safe on any frame, batch or streaming; no-op when nothing matches.
    */
  def normalize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr}
    val legacyNanos =
      if (df.columns.contains("ts") && df.schema("ts").dataType == LongType)
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      else df
    legacyNanos.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(legacyNanos)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }
}
