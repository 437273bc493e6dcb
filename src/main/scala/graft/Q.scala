package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalize(spark.read.parquet(s"$dir/$name.parquet"))

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
    * is memoized per (session, file set) — one probe per input table
    * per session covers every such caller. Any other frame (a
    * coalesce, a join, an aggregate over the same files) gets its own
    * probe: its partitioning is not the file set's. Sessions are weakly
    * keyed: test suites churn sessions and must not accumulate entries.
    */
  private val spreadParts =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, java.lang.Integer]]()

  /** Whether an analyzed plan is Project/Filter over ONE file relation. */
  private def nearScan(plan: LogicalPlan): Boolean = plan match {
    case p: Project => nearScan(p.child)
    case f: Filter => nearScan(f.child)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _ => false
  }

  private def scanParts(df: DataFrame): Int = {
    if (!nearScan(df.queryExecution.analyzed)) return df.rdd.getNumPartitions
    val s = df.sparkSession
    val key = df.inputFiles.sorted.mkString("\n")
    spreadParts.synchronized {
      var m = spreadParts.get(s)
      if (m == null) {
        m = new java.util.HashMap[String, java.lang.Integer]()
        spreadParts.put(s, m)
      }
      val cached = m.get(key)
      if (cached != null) cached.intValue()
      else {
        val p = df.rdd.getNumPartitions
        m.put(key, Integer.valueOf(p))
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
