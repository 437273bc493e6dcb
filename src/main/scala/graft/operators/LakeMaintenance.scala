package graft.operators

import graft.{Q, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Lake maintenance: small-file compaction — the pass every real
  * partitioned lake runs nightly. Streaming ingests, incremental loads
  * and over-parallel writers (every task emits a file per partition
  * value it touches) leave partition directories full of KB-scale
  * files; at 100 TB that means scan task counts in the millions,
  * NameNode/object-store listing pressure, and per-file open overhead
  * dominating I/O. Compaction rewrites each partition directory to
  * `ceil(bytes / targetFileSize)` files.
  *
  * Scale shape: the unit of work is ONE PARTITION DIRECTORY — sizes come
  * from a filesystem listing (no data read to plan), each rewrite is a
  * round-robin `repartition(n)` of just that directory (n tasks → n
  * files, no skew by construction), and directories are independent, so
  * a production run fans partition rewrites out concurrently (a job
  * pool) and can checkpoint progress per partition. Rewriting into a
  * fresh directory + atomic swap is the crash-safe deployment pattern;
  * table formats with a transaction log (the lineage of this operator)
  * commit the same rewrite as a metadata swap.
  *
  * Reference anchor: the reference's warehouse loads are
  * WRITE_TRUNCATE-per-table (`bigquery_loader_function/main.py:36-45`)
  * — full rewrites sidestep fragmentation at its scale; this is the
  * operator that restores that property to an incrementally-built lake.
  */
object LakeMaintenance {

  /** One partition directory's compaction accounting. `rewritten =
    * false` marks a directory [[compactInPlace]]'s threshold skipped
    * (already compact): its files were neither read nor written — at
    * 100 TB the nightly pass must only pay for the fragmented fraction
    * of the lake, not rewrite the whole of it every night.
    */
  final case class PartitionCompaction(
      partition: String, inputFiles: Long, inputBytes: Long, outputFiles: Int,
      rewritten: Boolean = true)

  /** Compact `inDir` (a parquet lake laid out as `partitionCols`
    * key=value directories; Nil = unpartitioned) into `outDir` with
    * files of ~`targetFileSizeBytes`. Returns per-partition accounting.
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetFileSizeBytes: Long,
      partitionCols: Seq[String] = Nil): Seq[PartitionCompaction] = {
    require(targetFileSizeBytes > 0, "targetFileSizeBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val in0 = new Path(inDir)
    val fs = in0.getFileSystem(conf)
    // qualified for the same bare-label relativize as compactInPlace
    val in = fs.makeQualified(in0)
    def leafDirs(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(d => leafDirs(d.getPath, depth - 1))
    val dirs = leafDirs(in, partitionCols.size).sortBy(_.toString)
    // partition rewrites are independent — fan them out as concurrent
    // Spark jobs (the scheduler interleaves their tasks), keeping the
    // returned accounting in directory order
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, dirs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(dirs) { dir =>
      Future {
        val files = fs.listStatus(dir).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val n = math.max(1L, (bytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
        val rel = in.toUri.relativize(dir.toUri).toString.stripSuffix("/")
        val dest = if (rel.isEmpty) outDir else s"$outDir/$rel"
        spark.read.parquet(dir.toString)
          .repartition(n)
          .write.mode("overwrite").option("compression", "zstd").parquet(dest)
        PartitionCompaction(if (rel.isEmpty) "." else rel, files.size, bytes, n)
      }
    }, Duration.Inf)
    finally pool.shutdown()
  }

  /** IN-PLACE compaction under live readers — the production nightly
    * pass. Differences from [[compact]]:
    *
    *   - THRESHOLDED: a directory already at (or below)
    *     `max(targetOutputCount, minInputFiles)` files is skipped
    *     untouched (`rewritten = false` in the accounting) — the run
    *     costs I/O proportional to the FRAGMENTED fraction of the lake;
    *   - CRASH-SAFE SWAP, StreamingMerge's aside-rename protocol: the
    *     rewrite lands in a dot-prefixed staging sibling (invisible to
    *     readers), the live dir is renamed ASIDE (never deleted first),
    *     staging renames in, then the displaced copy is deleted. A crash
    *     between the two renames leaves the only copy under
    *     `.compact_old_*`; the next run's recovery sweep restores it
    *     before planning, so re-running the pass IS the repair.
    *
    * Readers see each partition atomically switch from fragmented to
    * compacted (the rename is the commit point per directory);
    * cross-partition atomicity is not needed because content is
    * IDENTICAL either way — compaction changes layout, not data.
    */
  def compactInPlace(
      spark: SparkSession,
      dir: String,
      targetFileSizeBytes: Long,
      partitionCols: Seq[String] = Nil,
      minInputFiles: Int = 2): Seq[PartitionCompaction] = {
    require(targetFileSizeBytes > 0, "targetFileSizeBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val in0 = new Path(dir)
    val fs = in0.getFileSystem(conf)
    // qualified so relativize against listStatus's qualified children
    // yields the bare partition label, not a full URI
    val in = fs.makeQualified(in0)
    def leafDirs(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("."))
        .flatMap(d => leafDirs(d.getPath, depth - 1))
    // recovery sweep: a prior run that died between the aside-rename and
    // the commit rename left the partition's ONLY copy displaced —
    // restore it before planning this run's work
    def recover(p: Path, depth: Int): Unit =
      if (depth > 0) fs.listStatus(p).toSeq.filter(_.isDirectory).foreach { d =>
        val name = d.getPath.getName
        if (name.startsWith(".compact_old_")) {
          val live = new Path(p, name.stripPrefix(".compact_old_"))
          if (!fs.exists(live))
            require(fs.rename(d.getPath, live), s"restore of $d failed")
          else require(fs.delete(d.getPath, true), s"cleanup of stale $d failed")
        } else if (name.startsWith(".compact_tmp_")) {
          // staging from a crashed attempt: never committed, safe to drop
          require(fs.delete(d.getPath, true), s"cleanup of stale $d failed")
        } else recover(d.getPath, depth - 1)
      }
    recover(if (partitionCols.isEmpty) in.getParent else in, partitionCols.size)
    val dirs = leafDirs(in, partitionCols.size).sortBy(_.toString)
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, dirs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(dirs) { d =>
      Future {
        val files = fs.listStatus(d).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val n = math.max(1L, (bytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
        val rel = in.toUri.relativize(d.toUri).toString.stripSuffix("/")
        val partition = if (rel.isEmpty) "." else rel
        if (files.size <= math.max(n, minInputFiles))
          PartitionCompaction(partition, files.size, bytes, files.size,
            rewritten = false)
        else {
          val parent = d.getParent
          val tmp = new Path(parent, s".compact_tmp_${d.getName}")
          val old = new Path(parent, s".compact_old_${d.getName}")
          spark.read.parquet(d.toString)
            .repartition(n)
            .write.mode("overwrite").option("compression", "zstd")
            .parquet(tmp.toString)
          require(fs.rename(d, old), s"aside-rename of $d failed")
          require(fs.rename(tmp, d), s"commit rename of $tmp failed")
          require(fs.delete(old, true), s"delete of displaced $old failed")
          PartitionCompaction(partition, files.size, bytes, n)
        }
      }
    }, Duration.Inf)
    finally pool.shutdown()
  }

  /** Cluster a lake by a sort key: `repartitionByRange(n, keys)` +
    * `sortWithinPartitions` gives every output file a DISJOINT key range
    * (range exchange assigns non-overlapping key intervals to tasks), so
    * parquet column min/max statistics — per file footer and per row
    * group — let a selective reader skip everything but the files whose
    * interval contains the predicate. This is the sorted-clustering pass
    * (the 1-D case of z-ordering) run alongside compaction: compaction
    * fixes FILE COUNT, clustering fixes FILE RELEVANCE.
    * LakeMaintenanceSpec asserts the written footers' ranges really are
    * disjoint; the lk2 registry query proves content preservation.
    */
  def clusterBy(
      df: org.apache.spark.sql.DataFrame,
      outDir: String,
      numFiles: Int,
      partitionKeys: Seq[org.apache.spark.sql.Column],
      sortKeys: Seq[org.apache.spark.sql.Column] = Nil): Unit =
    // range-partition on partitionKeys ONLY: a composite range key would
    // let one partition-key value straddle a file boundary, breaking the
    // one-file-per-predicate property; sortKeys refine order inside each
    // file for row-group locality
    df.repartitionByRange(numFiles, partitionKeys: _*)
      .sortWithinPartitions(partitionKeys ++ sortKeys: _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(outDir)

  /** Morton/Z-value: interleave the low `bits` bits of x (even bit
    * positions) and y (odd positions). Adjacent z values are adjacent in
    * BOTH source dimensions, so range-partitioning on z gives every
    * output file a bounding BOX in (x, y) — the 2-D generalization of
    * `clusterBy`'s disjoint 1-D ranges. Pure bit arithmetic, fully
    * codegen'd, no UDF.
    */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** The same interleave as ANSI SQL (for the DuckDB oracle). */
  private[graft] def zValueSql(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  /** Z-order clustering: grade both dimensions onto a 256-cell
    * EQUAL-DEPTH grid (each cell holds ~1/256 of the rows), interleave
    * to a Morton key, range-partition + sort on it. Every output file
    * then covers a rectangle of (x, y) QUANTILE space: selective
    * predicates on EITHER dimension skip files by footer min/max — the
    * property a 1-D sort only gives its leading key. Equal-depth, not
    * equal-width: a skewed dimension (this corpus's value column packs
    * most rows into the bottom tenth of its range) collapses an
    * equal-width grid onto a few cells and the interleave degenerates
    * to a 1-D sort on the other key — measured before this was rewritten.
    *
    * The grade map is the dimension's exact CDF built on its
    * DISTINCT-VALUE table (groupBy(x).count → running sum), then
    * broadcast back — the same shape a production OPTIMIZE ZORDER gets
    * from sampled range boundaries, exact here so reruns and the DuckDB
    * oracle are bit-identical (Spark's and DuckDB's approx-percentile
    * sketches would not agree, which is why the exact CDF stays).
    *
    * The running sum is a TWO-LEVEL prefix sum, not a global
    * single-partition window (the r5 scale-killer: `Window.orderBy`
    * with no partitioning serializes every distinct value through one
    * task and OOMs on a high-cardinality dimension). Level 1
    * range-partitions the distinct table and window-sums WITHIN each
    * range partition; level 2 collects one (pid, subtotal) row per
    * partition — P rows, driver-side by construction — and broadcasts
    * the per-partition starting offsets back. Exact CDF, every stage
    * parallel, driver traffic O(shuffle partitions). Appends `z` to the
    * written schema.
    */
  def zCluster(
      df: org.apache.spark.sql.DataFrame,
      outDir: String,
      numFiles: Int,
      x: String,
      y: String): Unit = {
    val frame = withZ(df, x, y, "z")
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions("z")
    // SPARK_GRAFT_PIPELINE_TIMING=1 diagnostics: the write-side plan is
    // invisible to Explain/Prof because the write runs as a side effect
    // inside the query builder
    if (sys.env.get("SPARK_GRAFT_PIPELINE_TIMING").contains("1"))
      System.err.println(frame.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    frame.write.mode("overwrite").option("compression", "zstd").parquet(outDir)
  }

  /** One dimension's EQUAL-DEPTH grade map: (distinct value, 8-bit
    * cell) with each cell holding ~1/256 of the ROWS — the exact
    * two-level prefix-sum CDF [[zCluster]]'s doc motivates (equal-width
    * collapses on skew; a single-partition running sum was the r5
    * scale-killer). Takes the dimension's distinct-value counts
    * `(c, _n)` — a column-pruned one-column pass over the fact table
    * ([[withZ]] explains why the two dimensions' passes are NOT fused).
    */
  private def gradeMap(counts: org.apache.spark.sql.DataFrame, c: String,
      alias: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = counts.sparkSession
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // distinct-value counts, range-partitioned so partition-id order ==
    // value order (equal keys never straddle a range boundary). The
    // grade is boundary-independent (_cum is the value's GLOBAL rank
    // whatever intervals the range sampler picks), but _pid must stay
    // stable across the subtotal action and the map join — hence the
    // persist.
    val ranged = graft.CacheScope.track(
      counts
        .repartitionByRange(parts, col(c))
        .withColumn("_pid", spark_partition_id())
        .persist())
    // O(shuffle partitions)-bounded driver value, fetched as ONE
    // aggregated row (the same accounting discipline as
    // StreamingMerge's affected-bucket list)
    val subtotal = ranged.groupBy("_pid").agg(sum("_n").as("_pn"))
      .agg(collect_list(struct(col("_pid"), col("_pn"))).as("s"))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = subtotal.map(_._2).sum
    val offDf = spark.createDataFrame(
      subtotal.map(_._1).zip(subtotal.map(_._2).scanLeft(0L)(_ + _)).toSeq)
      .toDF("_pid", "_off")
    val local = Window.partitionBy("_pid").orderBy(col(c))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("_cum",
        coalesce(sum(col("_n")).over(local), lit(0L)) + col("_off"))
      .select(col(c), expr(s"_cum * 256 DIV ${total}L").as(alias))
  }

  /** Append `out` = the equal-depth 8-bit-per-axis Morton key of
    * (x, y) — THE z-key definition, shared by [[zCluster]] (parquet-dir
    * lake) and [[SnapshotLog.optimizeZOrder]] (table-format OPTIMIZE)
    * so the two layouts can never diverge in grading or bit parity.
    * Grade-map join strategy is left to AQE: the map is distinct-value-
    * sized — broadcast when small, shuffle join on a high-cardinality
    * dimension (same rationale as the dedup verify joins, VERDICT r5
    * #2). The joins are NULL-SAFE: the grade map carries the NULL
    * value as a group like any other (lowest cell), so null-keyed rows
    * ride through a rewrite instead of silently dropping.
    */
  private[operators] def withZ(df: org.apache.spark.sql.DataFrame,
      x: String, y: String, out: String): org.apache.spark.sql.DataFrame = {
    // CLOSED EXPERIMENT (r17): building BOTH dimensions' counts from one
    // grouping-sets pass ({x},{y} + grouping_id split) was tried and
    // REVERTED. (a) It saves no I/O at scale — the two stats scans are
    // column-pruned and column-DISJOINT (one reads x, the other y), so
    // one fused scan reads the same bytes; (b) the shared cached counts
    // parent breaks cache substitution on whichever grade map the final
    // attach joins SECOND (DeduplicateRelations rewrites that leg's
    // exprIds and the Expand-bearing cached subtree no longer
    // sameResult-matches — swapping join order moved the miss from gy to
    // gx), silently recomputing the ranged table with a FRESH
    // nondeterministic spark_partition_id assignment that need not match
    // the offsets fetched from the cached run; (c) measured at sf0.1:
    // warm 10.4 -> 12.7 task-s, wall flat. Per-dimension groupBys keep
    // every cached subtree Expand-free, which dedup-rewritten legs still
    // match.
    val gx = gradeMap(df.groupBy(col(x)).agg(count(lit(1)).as("_n")),
      x, "_xb").withColumnRenamed(x, "_gx")
    val gy = gradeMap(df.groupBy(col(y)).agg(count(lit(1)).as("_n")),
      y, "_yb").withColumnRenamed(y, "_gy")
    df.join(gx, col(x) <=> col("_gx"))
      .join(gy, col(y) <=> col("_gy"))
      .withColumn(out, zValue(col("_xb"), col("_yb"), 8))
      .select(df.columns.map(col) :+ col(out): _*)
  }

  /** LK1's scenario input: the documents table staged as a
    * lang-partitioned lake written by 48 over-parallel tasks — the
    * fragmentation every incremental ingest produces. Staged once per
    * source dir (content is deterministic per dir) and reused by reruns:
    * the fixture write is SETUP, not the operator, so Bench runs it
    * outside the timed window (the r6 lk1 number was ~2/3 fixture write,
    * which is what made it hostage to box-level I/O contention).
    */
  private def lk1Fragmented(s: SparkSession, dir: String): String =
    graft.TempDirs.staged(s"lk1frag_${graft.TempDirs.dirKey(dir)}") { p =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("lang"))
        .repartition(48)
        .write.mode("overwrite").partitionBy("lang")
        .parquet(p.resolve("fragmented").toString)
    }.resolve("fragmented").toString

  /** LK1: fragment → compact → prove content preservation. The query
    * compacts the staged fragmented lake ([[lk1Fragmented]]) to target
    * size and returns the compacted lake's CONTENT (doc_id, lang,
    * source, md5(text)) — which must equal the source table exactly, the
    * invariant that makes compaction safe to run under live readers.
    * File-count arithmetic is asserted in LakeMaintenanceSpec
    * (filesystem facts aren't SQL-oracle-expressible).
    */
  val all: Seq[Q] = Seq(
    Q(
      "lk1_compaction",
      (s, dir) => {
        val frag = lk1Fragmented(s, dir)
        val compacted =
          graft.TempDirs.create("graft_lk1").resolve("compacted").toString
        compact(s, frag, compacted, targetFileSizeBytes = 4L << 20,
          partitionCols = Seq("lang"))
        s.read.parquet(compacted)
          .select(
            col("doc_id"),
            col("lang").cast("string").as("lang"),
            col("source"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin),
      stage = Some((s, dir) => { lk1Fragmented(s, dir); () })
    ),

    // LK2: sort-clustered rewrite — events re-laid-out by user_id so a
    // per-user read touches one file instead of all of them. Content
    // preservation is the oracle-checked invariant; the disjoint
    // per-file key ranges (the thing that makes the layout useful) are
    // asserted from the parquet footers in LakeMaintenanceSpec.
    Q(
      "lk2_cluster_layout",
      (s, dir) => {
        val root = graft.TempDirs.create("graft_lk2")
        val out = root.resolve("clustered").toString
        clusterBy(
          Tables(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
          out, numFiles = 8, Seq(col("user_id")), Seq(col("event_id")))
        s.read.parquet(out)
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events ORDER BY event_id""".stripMargin)
    ),

    // LK3: z-order rewrite — events clustered on (user_id, value-bucket)
    // jointly, so both per-user reads AND value-range scans skip files.
    // Content + the Morton key are the oracle-checked invariants (the
    // oracle recomputes grid bounds and the 16-term bit interleave from
    // the raw table); the 2-D skipping advantage over a 1-D sort is
    // measured from per-file bounds in LakeMaintenanceSpec.
    Q(
      "lk3_zorder_layout",
      (s, dir) => {
        val root = graft.TempDirs.create("graft_lk3")
        val out = root.resolve("zordered").toString
        zCluster(
          Tables(s, dir, "events")
            .select(col("event_id"), col("user_id"),
              floor(col("value")).cast("long").as("vbucket")),
          out, numFiles = 16, x = "user_id", y = "vbucket")
        s.read.parquet(out)
          .select("event_id", "user_id", "vbucket", "z")
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id,
              |            CAST(floor(value) AS BIGINT) AS vbucket FROM events),
              |xm AS (SELECT user_id,
              |         CAST(COALESCE(SUM(_n) OVER (ORDER BY user_id
              |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |           * 256 // SUM(_n) OVER () AS BIGINT) AS xb
              |       FROM (SELECT user_id, count(*) AS _n FROM e GROUP BY user_id)),
              |ym AS (SELECT vbucket,
              |         CAST(COALESCE(SUM(_n) OVER (ORDER BY vbucket
              |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |           * 256 // SUM(_n) OVER () AS BIGINT) AS yb
              |       FROM (SELECT vbucket, count(*) AS _n FROM e GROUP BY vbucket))
              |SELECT event_id, user_id, vbucket,
              |  ${zValueSql("xb", "yb", 8)} AS z
              |FROM e JOIN xm USING (user_id) JOIN ym USING (vbucket)
              |ORDER BY event_id""".stripMargin)
    ),

    // LK5: the IN-PLACE compaction protocol end-to-end — fragment a
    // scratch lake, compact it in place (thresholded swap under the
    // crash-safe rename protocol), and prove the content survived
    // byte-for-byte. Scratch is per-invocation (in-place MUTATES its
    // input, so lk1's shared staged fixture cannot be reused);
    // bench=false — lk1 already carries compaction throughput, and this
    // row's time would be dominated by its own fixture write.
    Q(
      "lk5_inplace_compaction",
      (s, dir) => {
        val lake = graft.TempDirs.create("graft_lk5").resolve("lake").toString
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"), col("lang"))
          .repartition(24)
          .write.partitionBy("lang").parquet(lake)
        compactInPlace(s, lake, targetFileSizeBytes = 4L << 20,
          partitionCols = Seq("lang"))
        s.read.parquet(lake)
          .select(
            col("doc_id"),
            col("lang").cast("string").as("lang"),
            col("source"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin),
      bench = false
    ),

    // LK4: schema evolution at read — the lake reality that writers
    // upgrade before readers. batch=1 files carry (doc_id, source);
    // batch=2 files add n_chars. `mergeSchema` unions the footers and
    // old files surface the new column as NULL — no rewrite of history,
    // which at 100 TB is the only affordable option. The oracle
    // recomputes the union (old rows with NULL n_chars) from the raw
    // table. Per-file footer merging is metadata work; the scan itself
    // stays pushdown/pruning-capable on the common columns.
    Q(
      "lk4_schema_evolution",
      (s, dir) => {
        val root = graft.TempDirs.create("graft_lk4")
        val lake = root.resolve("lake").toString
        val docs = Tables(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "source") // the v1 writer: no n_chars yet
          .write.parquet(s"$lake/batch=1")
        docs.filter(col("doc_id") % 2 =!= 0)
          .select("doc_id", "source", "n_chars") // the upgraded writer
          .write.parquet(s"$lake/batch=2")
        s.read.option("mergeSchema", "true").parquet(lake)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("batch").cast("int").as("batch"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, CAST(NULL AS BIGINT) AS n_chars, 1 AS batch
             |FROM documents WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT doc_id, source, n_chars, 2 AS batch
             |FROM documents WHERE doc_id % 2 <> 0
             |ORDER BY doc_id""".stripMargin)
    )
  )
}
