package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.ParquetReadBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.operators.SnapshotLog

/** What a spec (and `description()`) reads off a planned catalog scan,
  * V1 or V2: the table and the file-pruning outcome.
  */
trait SnapshotScanLike {
  def root: String
  def keptFiles: Seq[SnapshotLog.FileEntry]
  def totalFiles: Int
  def readSchema(): StructType
  def description(): String
}

/** The snapshot catalog's NATIVE DSv2 batch scan: one `InputPartition`
  * per live data file, read executor-side through the same
  * serializable parquet reader `FileSourceScanExec` runs
  * ([[ParquetReadBridge]]), vectorized whenever every kept file is
  * clean and schema-identical. This is the Iceberg planning model —
  * and the shape that unlocks `SupportsRuntimeFiltering`: a star
  * join's dim-side keys arrive at run time as an `In` set and re-prune
  * the FILE LIST (stat bands + hidden-partitioning transform bands +
  * per-file blooms) before any fact bytes are read. At 100 TB that is
  * the difference between scanning the stat-band survivors and
  * scanning the handful of files that can hold the dim's keys.
  *
  * Merge-on-read: a file with outstanding positional delete vectors
  * reads with the parquet row-index column appended; its reader first
  * loads the file's OWN DV rows (pushed `t_path` filter — executor
  * side, never through the driver) and skips dead positions — the one
  * place positional deletes are applied. Equality deletes are joins
  * above the scan: a library read adds them itself, and a SQL read of
  * a snapshot with outstanding ones plans the V1 fallback
  * ([[SnapshotScanBuilder.build]]), which reads through the library.
  *
  * Schema evolution: files group by their field-id physical
  * projection; each group reads under its own physical names and
  * projects to the current schema (absent columns surface NULL).
  *
  * `coords` names the coordinate columns a library read asked for
  * ([[SnapshotBatchScan.CoordFields]]), appended after `required`:
  * `__path` (the slice's manifest-relative path) and `__pos` (its
  * parquet row index) — the (file, position) address delete vectors
  * use.
  */
class SnapshotBatchScan(required: StructType,
    plan0: SnapshotLog.CatalogBatchPlan,
    reportPushed: Seq[sources.Filter],
    coords: Seq[String] = Seq.empty)
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with SnapshotScanLike {

  private val spark = SparkSession.active
  private val snap = plan0.snap
  val root: String = snap.root
  val totalFiles: Int = plan0.totalFiles
  val tableSchema: StructType = snap.schema
  private val dvByTarget = plan0.dvByTarget
  private val dvKills = plan0.dvKills

  @volatile private var kept: Seq[SnapshotLog.FileEntry] = plan0.kept
  @volatile private var runtimeDropped: Int = 0
  def keptFiles: Seq[SnapshotLog.FileEntry] = kept
  def runtimeDroppedFiles: Int = runtimeDropped

  override def readSchema(): StructType =
    StructType(required.fields ++ coords.map(SnapshotBatchScan.CoordFields(_)))
  override def toBatch: Batch = this

  override def description(): String =
    s"SnapshotBatchScan root=$root ${snap.pinLabel}" +
      s" files=${kept.size}/$totalFiles" +
      (if (runtimeDropped > 0) s" runtimeDropped=$runtimeDropped" else "") +
      s" pushed=${reportPushed.mkString("[", ", ", "]")}"

  override def estimateStatistics(): Statistics = new Statistics {
    // LIVE rows: per-file manifest counts minus each file's recorded
    // DV kill count — exact, so a MoR-heavy table's CBO sees the true
    // cardinality instead of dead-row-inflated counts
    private val rows =
      kept.map(f => f.rows - dvKills.getOrElse(f.path, 0L)).sum
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, rows) *
        math.max(1, required.map(_.dataType.defaultSize).sum))
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
    // manifest-recorded column statistics (exact null counts, KMV NDV
    // estimates) — Spark's transformV2Stats folds these into the
    // logical plan's attributeStats, so with CBO on, a filtered dim's
    // estimated cardinality shrinks by 1/ndv and the join build side
    // flips to the genuinely smaller side. Zero data reads: the meta
    // folded from O(#commits) manifest bytes at plan time.
    override def columnStats(): util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // UNPRUNED clean scans answer from the LIST-level fold
      // (O(#lists)); pruned scans — and ANY scan with outstanding DV
      // kills — re-fold from the kept files' PER-FILE meta lines, so
      // the stats always describe the rows numRows() reports (a
      // whole-table nullCount above a pruned rowCount would corrupt
      // CBO's selectivities). Under kills the null counts are exact
      // for null-free/all-null files and proportional estimates for
      // mixed ones (see liveNullCount) — estimate-grade, which is
      // this surface's contract; the EXACT-answer aggregate pushdown
      // has its own stricter gate.
      val pruned = !plan0.whole || kept.size != totalFiles
      val hasKills =
        kept.exists(f => dvKills.getOrElse(f.path, 0L) > 0L)
      val (metaMap, boundsMap): (Map[String, (Long, Long)],
          Map[String, (Any, Any)]) =
        if (!pruned && !hasKills) (snap.colMeta, snap.colBounds)
        else (SnapshotLog.subsetColMeta(kept, tableSchema, snap.curIds,
          dvKills),
          // bounds may include dead extremes — a (slightly) widened
          // band, safe for range-selectivity estimation
          SnapshotLog.subsetColBounds(kept, tableSchema, snap.curIds))
      // equi-height histogram boundaries fold from the kept files'
      // per-file quantiles (pruned or not — one code path): the
      // range-selectivity feed that corrects CBO where min/max-uniform
      // misleads on a skewed column. DV kills shrink each file's
      // weight to its live non-null estimate.
      val histMap: Map[String, (Long, Vector[Double])] =
        SnapshotLog.subsetColHist(kept, tableSchema, snap.curIds,
          dvKills)
      required.fieldNames.foreach { c =>
        metaMap.get(c).foreach { case (nulls, ndv) =>
          // typed min/max beside ndv/nulls — the range-selectivity
          // feed. ORDERABLE-NUMERIC types only (numeric, date,
          // timestamp as their Catalyst-internal values): CBO's
          // estimators convert bounds via toDouble, which a string
          // would break
          val bounds = tableSchema(c).dataType match {
            case _: org.apache.spark.sql.types.NumericType |
                 org.apache.spark.sql.types.DateType |
                 org.apache.spark.sql.types.TimestampType =>
              boundsMap.get(c)
            case _ => None
          }
          val histOpt = histMap.get(c).map { case (nonNull, bs) =>
            val binNdv = math.max(1L, ndv / SnapshotLog.HistBins)
            new org.apache.spark.sql.connector.read.colstats.Histogram {
              override def height(): Double =
                nonNull.toDouble / SnapshotLog.HistBins
              override def bins(): Array[org.apache.spark.sql.connector
                  .read.colstats.HistogramBin] =
                (0 until SnapshotLog.HistBins).map { j =>
                  new org.apache.spark.sql.connector.read.colstats
                      .HistogramBin {
                    override def lo(): Double = bs(j)
                    override def hi(): Double = bs(j + 1)
                    override def ndv(): Long = binNdv
                  }
                }.toArray
            }
          }
          out.put(Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                util.OptionalLong.of(ndv)
              override def nullCount(): util.OptionalLong =
                util.OptionalLong.of(nulls)
              override def min(): java.util.Optional[Object] =
                bounds.map(b => java.util.Optional.of(
                  b._1.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                bounds.map(b => java.util.Optional.of(
                  b._2.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                histOpt.map(h => java.util.Optional.of(h))
                  .getOrElse(java.util.Optional.empty())
            })
        }
      }
      out
    }
  }

  // ---- storage-partitioned join: when the table declares a partition
  // spec and every planned file's recorded transform band is a POINT
  // (fanout-written layouts guarantee this), each file maps to exactly
  // one partition key and the scan reports
  // `KeyGroupedPartitioning(<transform>(col))` — ANY declared
  // transform (bucket, days/hours/months, trunc), since the catalog's
  // FunctionCatalog serves every one of them: two co-fanout tables
  // then join with ZERO shuffle on either side, the difference between
  // re-shuffling 100 TB per join and reading both sides in place. The
  // decision is fixed from the PRE-runtime-filter file set (runtime
  // filtering only removes files, so the invariant cannot break).
  // Reporting is DOUBLY gated: Spark's own SPJ conf (default on in
  // Spark 4) AND the opt-in `spark.graft.catalog.preserveGrouping` —
  // because a reported KeyGroupedPartitioning makes BatchScanExec read
  // ONE TASK PER KEY (a 10k-file scan collapses to n_keys tasks:
  // right for the shuffle-free join, catastrophic for a plain scan's
  // parallelism at 100 TB). Iceberg's preserve-data-grouping flag,
  // same default, same reason. ----

  private lazy val spjField: Option[SnapshotLog.PartField] = {
    val conf = SparkSession.active.conf
    val on = conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      .exists(_.toBoolean) &&
      conf.getOption("spark.graft.catalog.preserveGrouping")
        .exists(_.toBoolean)
    if (!on || plan0.kept.isEmpty) None
    else snap.spec.find(f =>
      required.fieldNames.contains(f.column) &&
      plan0.kept.forall(file =>
        SnapshotLog.fileTransformPoint(file, f, snap.curIds).isDefined))
  }

  /** The reported V2 transform for the SPJ field — by the NAME the
    * catalog's FunctionCatalog serves, so Spark's SPJ planner binds
    * both join sides to the same canonical function.
    */
  private def spjTransform(f: SnapshotLog.PartField)
      : org.apache.spark.sql.connector.expressions.Transform =
    f.transform match {
      case "bucket" => Expressions.bucket(f.n, f.column)
      case "days" => Expressions.days(f.column)
      case "hours" => Expressions.hours(f.column)
      case "months" => Expressions.months(f.column)
      // width-curried: a literal child would fail Spark's key-grouped
      // clustering check (see SnapshotTruncFunction)
      case "trunc" => Expressions.apply(s"trunc_${f.n}",
        Expressions.column(f.column))
      case other => throw new IllegalStateException(
        s"unknown partition transform $other")
    }

  /** A point-band string as the transform's partition-key VALUE —
    * matching the served function's result type: string-trunc keys are
    * the prefix itself, every other transform keys as LONG.
    */
  private def spjKeyValue(f: SnapshotLog.PartField, v: String): Any =
    if (f.transform == "trunc" && tableSchema(f.column).dataType ==
        org.apache.spark.sql.types.StringType)
      org.apache.spark.unsafe.types.UTF8String.fromString(v)
    else java.lang.Long.valueOf(java.lang.Long.parseLong(v))

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjField match {
      case Some(f) =>
        // the keyed arm needs the REAL task count (Spark matches it
        // against the partition key values); planInputPartitions is
        // cached per kept-set identity, so this costs one planning pass
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(spjTransform(f)), planInputPartitions().length)
      case None =>
        // Spark's V2ScanPartitioningAndOrdering keeps only
        // KeyGroupedPartitioning; an UnknownPartitioning's count is
        // never consulted, so don't force O(#files) partition planning
        // (group projection, DV reader construction) just to report it
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(kept.size)
    }

  // ---- reported ordering: when the table declares a write sort order
  // and EVERY kept file both carries the matching sortedBy stamp and
  // proves itself safe to CONCATENATE (null-free sort columns per the
  // per-file meta — stats don't see nulls, and a null row sorts to an
  // end the chain test can't check — plus chain-disjoint ranges on the
  // leading sort column), the scan packs each task's files in sort-key
  // order and reports the per-partition ordering
  // (`SupportsReportOrdering`) — a sort-merge join over two such
  // tables then plans with NO Sort on either side (and, combined with
  // the SPJ arm above, no Exchange either): at 100 TB the sort that
  // isn't run is the win. The decision is frozen from the
  // PRE-runtime-filter file set, like [[spjField]]: runtime filtering
  // only removes files, and a subsequence of a sorted, disjoint chain
  // stays sorted and disjoint. ----

  private lazy val orderedLayout: Option[Seq[SnapshotLog.SortField]] = {
    val so = snap.sortOrder
    if (so.isEmpty || plan0.kept.isEmpty) None
    else if (!so.forall(f => required.fieldNames.contains(f.column))) None
    else {
      val tag = SnapshotLog.renderSortOrder(so)
      val lead = so.head
      val dt = tableSchema(lead.column).dataType
      // a zero-row file contributes nothing to any concatenation —
      // stamped or not, it cannot break the order
      val bearing = plan0.kept.filter(_.rows > 0L)
      def eligible(f: SnapshotLog.FileEntry): Boolean =
        f.sortedBy == tag &&
          f.stats.contains(lead.column) &&
          // zero nulls in EVERY sort column, proven by per-file meta —
          // absent meta (a legacy file line) refuses
          so.forall(c => f.meta.get(c.column).exists(_._1 == 0L))
      // multi-field orders need STRICT leading-column disjointness:
      // two files sharing a boundary value could interleave on the
      // second field. A single-field order tolerates equal boundaries
      // (…v | v… concatenates sorted).
      val strict = so.size > 1
      def chainOk(fs: Seq[SnapshotLog.FileEntry]): Boolean = {
        val chain = sortedByLead(fs, lead, dt)
        chain.zip(chain.tail).forall { case (a, b) =>
          val (aLo, aHi) = a.stats(lead.column)
          val (bLo, bHi) = b.stats(lead.column)
          if (lead.asc) {
            if (strict) SnapshotLog.statGt(dt, bLo, aHi)
            else !SnapshotLog.statGt(dt, aHi, bLo)
          } else {
            if (strict) SnapshotLog.statGt(dt, aLo, bHi)
            else !SnapshotLog.statGt(dt, bHi, aLo)
          }
        }
      }
      // tasks concatenate only WITHIN a packing unit: under key-grouped
      // SPJ reads each partition value packs separately (a bucket's
      // files overlap other buckets on the sort key freely — one file
      // per bucket is the common fanout shape and trivially sorted);
      // otherwise the whole kept set packs as one chain
      def fits = spjField match {
        case Some(field) =>
          bearing.groupBy(f => SnapshotLog.fileTransformPoint(
            f, field, snap.curIds).get).values.forall(chainOk)
        case None => chainOk(bearing)
      }
      try {
        if (bearing.nonEmpty && bearing.forall(eligible) && fits) Some(so)
        else None
      } catch {
        // unparseable / mixed-era stat renderings: no sound order
        case _: NumberFormatException => None
      }
    }
  }

  /** Files ordered by the leading sort field's band — ascending orders
    * chain on min, descending on max; ties break by path (stable).
    */
  private def sortedByLead(fs: Seq[SnapshotLog.FileEntry],
      lead: SnapshotLog.SortField,
      dt: org.apache.spark.sql.types.DataType)
      : Seq[SnapshotLog.FileEntry] =
    fs.sortWith { (a, b) =>
      val ka = if (lead.asc) a.stats(lead.column)._1 else a.stats(lead.column)._2
      val kb = if (lead.asc) b.stats(lead.column)._1 else b.stats(lead.column)._2
      if (lead.asc) {
        if (SnapshotLog.statGt(dt, kb, ka)) true
        else if (SnapshotLog.statGt(dt, ka, kb)) false
        else a.path < b.path
      } else {
        if (SnapshotLog.statGt(dt, ka, kb)) true
        else if (SnapshotLog.statGt(dt, kb, ka)) false
        else a.path < b.path
      }
    }

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderedLayout.map(_.map(f =>
      Expressions.sort(
        Expressions.column(f.column),
        if (f.asc)
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
        else
          org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING))
      .toArray).getOrElse(Array.empty)

  /** The partition key row a file contributes under the SPJ field —
    * the transform value its point band records, typed as the served
    * function evaluates it.
    */
  private def keyOf(f: SnapshotLog.FileEntry): InternalRow =
    spjField.map { field =>
      val v = SnapshotLog.fileTransformPoint(f, field, snap.curIds)
        .getOrElse(throw new IllegalStateException(
          s"SPJ-keyed scan lost the point band of ${f.path}"))
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](spjKeyValue(field, v)))
    }.orNull

  // ---- runtime filtering (DPP): every SCANNED column is a candidate
  // (Spark resolves these against the scan's own output — a pruned
  // column would fail resolution); pruning power comes from whatever
  // stats/blooms each file recorded, decided per file, not here ----
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.map(Expressions.column)

  /** A runtime key set wider than this degrades to its min/max
    * envelope: the per-value test is O(files × values) and a set that
    * big prunes like a range anyway.
    */
  private val SetPruneCap = 10000

  override def filter(filters: Array[sources.Filter]): Unit = {
    val before = kept.size
    filters.foreach {
      case sources.In(c, vs) if vs != null && vs.nonEmpty =>
        val rendered = vs.toSeq.filter(_ != null)
          .flatMap(SnapshotCatalog.render)
        if (rendered.nonEmpty && rendered.size <= SetPruneCap)
          kept = SnapshotLog.pruneEntriesForSets(
            kept, tableSchema, snap.curIds, Seq(c -> rendered))
        else if (rendered.nonEmpty)
          kept = SnapshotLog.pruneEntriesForBoxes(
            kept, tableSchema, snap.curIds,
            SnapshotCatalog.boxOf(sources.In(c, vs)))
      case sources.EqualTo(c, v) =>
        SnapshotCatalog.render(v).foreach(r =>
          kept = SnapshotLog.pruneEntriesForSets(
            kept, tableSchema, snap.curIds, Seq(c -> Seq(r))))
      case other =>
        kept = SnapshotLog.pruneEntriesForBoxes(
          kept, tableSchema, snap.curIds, SnapshotCatalog.boxOf(other))
    }
    runtimeDropped += before - kept.size
  }

  // ---- partition planning ----

  /** Per-file physical projection under the current field ids
    * ([[SnapshotLog.physFieldIn]]): ids-less files (legacy) read
    * by current name; stamped files resolve each current column — and
    * its NESTED struct names — to the physical field carrying the id,
    * None = absent (NULL).
    */
  private def projectionOf(f: SnapshotLog.FileEntry)
      : Seq[Option[org.apache.spark.sql.types.StructField]] =
    required.fields.toSeq.map(c =>
      SnapshotLog.physFieldIn(f, c, snap.curIds))

  private def isIdentity(
      proj: Seq[Option[org.apache.spark.sql.types.StructField]]): Boolean =
    proj.zip(required.fields).forall {
      // name AND type (nested names included) must match — a
      // nested-renamed era reads under physical inner names and must
      // take the projected row path, not the identity/vectorized one
      case (Some(p), c) => p.name == c.name && p.dataType == c.dataType
      case _ => false
    }

  /** Row-vs-columnar is decided ONCE, from the PRE-runtime-filter file
    * set: BatchScanExec fixes `supportsColumnar` at planning and
    * re-invokes planInputPartitions after `filter()` — dropping the
    * last dirty file at run time must not flip the mode under it.
    */
  private lazy val columnarMode: Boolean = {
    val files = kept
    coords.isEmpty &&
      !files.exists(f => dvByTarget.contains(f.path)) &&
      files.groupBy(projectionOf).keys.forall(isIdentity) &&
      ParquetReadBridge.supportBatch(spark, required)
  }

  /** The (groups, partitions) plan for the CURRENT kept set — cached
    * per file-set identity because BatchScanExec plans once, then
    * re-plans after runtime filtering.
    */
  @volatile private var plannedCache
      : (Seq[SnapshotLog.FileEntry], (Array[SnapshotGroupSpec], Array[InputPartition], Boolean)) = null

  private def planned: (Array[SnapshotGroupSpec], Array[InputPartition], Boolean) = {
    val k = kept
    val c = plannedCache
    if (c != null && (c._1 eq k)) return c._2
    val built = plan(k)
    plannedCache = (k, built)
    built
  }

  /** Pure-metadata planning: every partition is built from the
    * MANIFEST alone — file statuses and DV-dir listings happen in the
    * EXECUTOR readers, so planning a million-file table (or a
    * runtime-pruned sliver of it) costs zero filesystem calls per
    * data file on the driver.
    */
  private def plan(files: Seq[SnapshotLog.FileEntry])
      : (Array[SnapshotGroupSpec], Array[InputPartition], Boolean) = {
    val groups = files.groupBy(projectionOf).toSeq.sortBy(_._2.head.path)
    val columnar = columnarMode
    val groupSpecs = groups.map { case (proj, gFiles) =>
      val present = proj.zipWithIndex.collect { case (Some(p), i) => (p, i) }
      val physFields = StructType(present.map { case (p, _) =>
        p.copy(nullable = true) })
      val outMap: Array[Int] = {
        val readIdx = present.map(_._2).zipWithIndex.toMap // requiredIdx -> readIdx
        required.fields.indices.map(i => readIdx.getOrElse(i, -1)).toArray
      }
      val dirty = gFiles.exists(f => dvByTarget.contains(f.path))
      // the row index is read for dead-row checks and for `__pos`
      val hasPos = dirty || coords.nonEmpty
      // pushed filters reach the parquet reader (row-group/page skip)
      // only when the group reads under CURRENT names — renamed files
      // skip pushdown, the residual Filter above re-applies exactly.
      // And only filters whose EVERY column is in the read schema: a
      // filter on a pruned-away column (possible once a claimed-exact
      // partition predicate stops forcing its column into the
      // projection) evaluates against parquet's requested schema,
      // where the missing column reads as all-NULL and the predicate
      // silently drops every row
      val pushable = if (isIdentity(proj))
        reportPushed.filter(_.references.forall(required.fieldNames.contains))
      else Seq.empty
      val readSchema =
        if (hasPos) StructType(physFields.fields :+ ParquetReadBridge.RowIndexField)
        else physFields
      SnapshotGroupSpec(
        ParquetReadBridge.reader(spark, readSchema, pushable, columnar),
        physFields, outMap, posIdx = physFields.length,
        // identity (reader rows ARE the output rows) requires the read
        // schema to be EXACTLY the required schema — a group that
        // appended the row-index column must project it away even for
        // its clean files, or their rows carry a phantom extra field
        identity = isIdentity(proj) && outMap.forall(_ >= 0) && !hasPos,
        hasPos = hasPos)
    }.toArray
    // per-dirty-file DV reader closures: pushed t_path filter, so each
    // reader loads only its own rows from the shared DV parquet dirs
    val dvSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("t_path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("t_pos",
        org.apache.spark.sql.types.LongType)))
    val groupIdx = groups.zipWithIndex
      .flatMap { case ((_, gf), gi) => gf.map(f => f.path -> gi) }.toMap
    def sliceOf(f: SnapshotLog.FileEntry): SnapshotFileSlice = {
      val dvDirs = dvByTarget.getOrElse(f.path, Seq.empty)
      SnapshotFileSlice(
        groupIdx(f.path),
        s"$root/${f.path}", relPath = f.path, bytes = f.bytes,
        dirty = dvDirs.nonEmpty,
        // the pushed t_path filter is row-group INEXACT — the reader
        // re-checks t_path exactly (one DV dir holds coordinates for
        // EVERY target file of its commit; adopting another file's
        // positions would silently drop live rows)
        dvReader = if (dvDirs.isEmpty) null
          else ParquetReadBridge.reader(spark, dvSchema,
            Seq(sources.EqualTo("t_path", f.path)), returningBatch = false),
        dvDirs = dvDirs.map(d => s"$root/$d").toArray)
    }
    // ---- bin-packing: files pack into tasks up to
    // `spark.sql.files.maxPartitionBytes` (+ the per-file open cost),
    // exactly FileSourceScanExec's sizing — a compacted-badly table of
    // 100k small files reads as ~bytes/maxPartitionBytes tasks, not
    // 100k. Sizes come from the MANIFEST (exact, committer-recorded);
    // a legacy entry without one estimates from its row count and the
    // schema's default widths — conservative either way, a split never
    // crosses a file boundary. Under key-grouping, packing stays
    // WITHIN one partition key, so HasPartitionKey remains truthful.
    val sqlConf = spark.sessionState.conf
    val maxBytes = sqlConf.filesMaxPartitionBytes
    val openCost = sqlConf.filesOpenCostInBytes
    val rowWidth = math.max(1,
      snap.schema.map(_.dataType.defaultSize).sum)
    def costOf(f: SnapshotLog.FileEntry): Long =
      (if (f.bytes > 0) f.bytes else f.rows * rowWidth) + openCost
    // under a reported ordering, tasks must concatenate files in
    // sort-key order (the chain-disjointness the gate proved makes the
    // concatenation sorted); otherwise path order (stable, locality-
    // friendly for commit-clustered files)
    def packOrder(fs: Seq[SnapshotLog.FileEntry])
        : Seq[SnapshotLog.FileEntry] = orderedLayout match {
      case Some(so) =>
        // zero-row files have no band to order by and no rows to
        // misplace — they append at the end
        val (bearing, empty) = fs.partition(_.rows > 0L)
        sortedByLead(bearing, so.head,
          tableSchema(so.head.column).dataType) ++ empty
      case None => fs.sortBy(_.path)
    }
    def pack(fs: Seq[SnapshotLog.FileEntry], key: InternalRow)
        : Seq[SnapshotFilePartition] = {
      val out = Seq.newBuilder[SnapshotFilePartition]
      var cur = Vector.empty[SnapshotFileSlice]
      var acc = 0L
      packOrder(fs).foreach { f =>
        val c = costOf(f)
        if (cur.nonEmpty && acc + c > maxBytes) {
          out += SnapshotFilePartition(cur.toArray, columnar, key)
          cur = Vector.empty; acc = 0L
        }
        cur :+= sliceOf(f); acc += c
      }
      if (cur.nonEmpty) out += SnapshotFilePartition(cur.toArray, columnar, key)
      out.result()
    }
    val parts: Array[InputPartition] = (spjField match {
      case Some(field) =>
        files.groupBy(f => SnapshotLog.fileTransformPoint(
          f, field, snap.curIds).get)
          .toSeq.sortBy(_._1)
          .flatMap { case (_, kf) => pack(kf, keyOf(kf.head)) }
      case None => pack(files, null)
    }).toArray
    (groupSpecs, parts, columnar)
  }

  override def planInputPartitions(): Array[InputPartition] = planned._2

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(planned._1, required, coords, planned._3,
      ParquetReadBridge.serializableConf(spark))
}

object SnapshotBatchScan {

  /** The coordinate columns a library read may append, by name. */
  val CoordFields: Map[String, StructField] = Map(
    "__path" -> StructField("__path", StringType),
    "__pos" -> StructField("__pos", LongType))
}

/** One file group's executor recipe: the reader closure, its physical
  * read schema, and the projection map back to the current schema
  * (`outMap(i)` = read ordinal of required column i, -1 = NULL).
  */
private[sources] final case class SnapshotGroupSpec(
    reader: PartitionedFile => Iterator[InternalRow],
    physFields: StructType, outMap: Array[Int], posIdx: Int,
    identity: Boolean, hasPos: Boolean) extends Serializable

/** One file's executor read recipe inside a packed partition. */
private[sources] final case class SnapshotFileSlice(
    group: Int, path: String, relPath: String, bytes: Long,
    dirty: Boolean,
    dvReader: PartitionedFile => Iterator[InternalRow],
    dvDirs: Array[String]) extends Serializable

/** One TASK: a bin-packed run of file slices (see the scan's packing
  * note). `key` is non-null only when the owning scan reports
  * KeyGroupedPartitioning — Spark consults [[org.apache.spark.sql
  * .connector.read.HasPartitionKey]] solely on that path, and every
  * slice in a keyed partition shares that key.
  */
private[sources] final case class SnapshotFilePartition(
    slices: Array[SnapshotFileSlice],
    columnar: Boolean,
    key: InternalRow = null) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[sources] class SnapshotReaderFactory(
    groups: Array[SnapshotGroupSpec], required: StructType,
    coords: Seq[String], columnar: Boolean,
    conf: org.apache.spark.sql.graft.SerializableHadoopConf)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  /** Manifest-recorded size when available (ZERO filesystem metadata
    * calls on the read path); a legacy entry without one resolves its
    * status here (executor) — the driver never stats data files either
    * way.
    */
  private def pfileOf(slice: SnapshotFileSlice): PartitionedFile =
    if (slice.bytes > 0)
      ParquetReadBridge.partitionedFile(slice.path, slice.bytes, 0L)
    else {
      val p = new Path(slice.path)
      val st = p.getFileSystem(conf.value).getFileStatus(p)
      ParquetReadBridge.partitionedFile(slice.path, st.getLen,
        st.getModificationTime)
    }

  /** Open `slice` for reading and point `input_file_name()` at it;
    * the holder is cleared when the task completes, as `FileScanRDD`
    * does.
    */
  private def open(slice: SnapshotFileSlice): Iterator[InternalRow] = {
    val pf = pfileOf(slice)
    ParquetReadBridge.setInputFile(pf)
    groups(slice.group).reader(pf)
  }

  private def unsetOnCompletion(): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => ParquetReadBridge.unsetInputFile()))

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[SnapshotFilePartition]
    unsetOnCompletion()
    // flatMap is lazy per slice: each file opens when the previous
    // one's batches are drained
    val it = part.slices.iterator.flatMap(s =>
      open(s).asInstanceOf[Iterator[ColumnarBatch]])
    new PartitionReader[ColumnarBatch] {
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }

  /** One slice's live, projected rows. */
  private def sliceRows(slice: SnapshotFileSlice): Iterator[InternalRow] = {
    val g = groups(slice.group)
    val raw = open(slice)
    val alive: Iterator[InternalRow] =
      if (!slice.dirty) raw
      else {
        // the file's dead positions, loaded HERE (executor), bounded by
        // this file's own DV rows — sorted array + binary search
        val b = Array.newBuilder[Long]
        val me = org.apache.spark.unsafe.types.UTF8String
          .fromString(slice.relPath)
        slice.dvDirs.foreach { dir =>
          val dp = new Path(dir)
          val fs = dp.getFileSystem(conf.value)
          fs.listStatus(dp).iterator
            .filter(_.getPath.getName.endsWith(".parquet"))
            .foreach { st =>
              slice.dvReader(ParquetReadBridge.partitionedFile(
                st.getPath.toString, st.getLen, st.getModificationTime))
                // exact match: the pushed filter only skips row groups
                .filter(r => r.getUTF8String(0) == me)
                .foreach(r => b += r.getLong(1))
            }
        }
        val dead = b.result().sorted
        if (dead.isEmpty) raw
        else raw.filter(r =>
          java.util.Arrays.binarySearch(dead, r.getLong(g.posIdx)) < 0)
      }
    if (g.identity) alive
    else {
      val exprs = required.fields.toIndexedSeq.zipWithIndex.map { case (c, i) =>
        g.outMap(i) match {
          case -1 => Literal.create(null, c.dataType)
          case ri => BoundReference(ri,
            g.physFields.fields(ri).dataType, nullable = true)
        }
      }
      // coordinates: the row index the reader appended (a read with
      // coordinates always appends it), and the slice's path as a
      // one-column row joined after it
      val coordExprs = coords.map {
        case "__path" => BoundReference(g.posIdx + 1, StringType, nullable = false)
        case _ => BoundReference(g.posIdx, LongType, nullable = false)
      }
      val proj = UnsafeProjection.create(exprs ++ coordExprs)
      if (coords.isEmpty) alive.map(proj)
      else {
        val joined = new JoinedRow(null, InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(slice.relPath)))
        alive.map(r => proj(joined.withLeft(r)))
      }
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SnapshotFilePartition]
    unsetOnCompletion()
    val out = part.slices.iterator.flatMap(sliceRows)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (out.hasNext) { cur = out.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
