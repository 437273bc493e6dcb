package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{SnapshotFileWriter, SnapshotLog, SnapshotWriteMessage}

/** DSv2 catalog over [[graft.operators.SnapshotLog]] tables — the SQL
  * front door the table format was missing: register once per session
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  * spark.conf.set("spark.sql.catalog.snap.root", "/warehouse")   // optional
  * }}}
  *
  * and every log becomes SQL-addressable, time travel included:
  *
  * {{{
  * SELECT * FROM snap.orders                          -- /warehouse/orders
  * SELECT * FROM snap.`/abs/path/log` VERSION AS OF 2 -- path identifier
  * SELECT * FROM snap.orders TIMESTAMP AS OF '2026-08-15 12:00:00'
  * }}}
  *
  * Path-in-name identifiers (the Delta `delta.`/path`` convention)
  * need no warehouse root and keep the catalog instance stateless, so
  * one registered name serves every log on the filesystem.
  *
  * The read path is the LIBRARY read path: a loaded table resolves
  * its manifest once (`SnapshotLog.resolve`; version / timestamp
  * pinned for time travel), the scan builder receives Spark's pushed
  * conjuncts and turns them into manifest stat-band + transform-band +
  * bloom file pruning via `SnapshotLog.boxFiles`, and the scan — the
  * per-file [[SnapshotBatchScan]] every library read also plans, or
  * the [[V1Scan]] fallback whose relation produces rows from
  * `SnapshotLog.dvRead` — applies the same field-id schema
  * resolution, delete vectors, and equality-delete application every
  * library read gets, so SQL and API results can never diverge.
  * Filters fully translated to Catalyst columns are
  * claimed EXACT (evaluated inside the produced plan, inside
  * whole-stage codegen, and additionally pushed into the parquet row
  * -group reader by the inner scan); anything else is left residual
  * for Spark. `needConversion = false` hands Spark the inner plan's
  * InternalRows directly — no Row boxing on the hot path.
  *
  * At 100 TB the wins are the same as the library API's: a
  * `WHERE o_orderkey BETWEEN a AND b` over a range-clustered log opens
  * O(band) files planned from kilobytes of manifest; a point predicate
  * on a bloomed column skips clean files without opening them; a
  * `VERSION AS OF` read is one manifest resolution, never a log replay.
  *
  * Reference anchor: the reference's warehouse tables are SQL-
  * addressable (README.md:334-519 queries them by name); this closes
  * the same gap for the snapshot-log format.
  */
class SnapshotCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = "snap"
  private var warehouse: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("root"))
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  private def rootOf(ident: Identifier): String = {
    require(ident.namespace.isEmpty,
      s"snapshot catalog identifiers are single-part or path-based: $ident")
    if (ident.name.startsWith("/")) ident.name
    else warehouse match {
      case Some(w) => s"$w/${ident.name}"
      case None => throw new NoSuchTableException(ident)
    }
  }

  private def tableAt(ident: Identifier, asOf: Long): Table = {
    val root = rootOf(ident)
    val head = SnapshotLog.currentId(spark, root)
    if (head == 0L) throw new NoSuchTableException(ident)
    // WAP (write-audit-publish, Iceberg's `spark.wap.branch`): while
    // `spark.graft.wap.branch` is set, a plain CURRENT-head resolution
    // of a table that HAS that branch pins the branch head instead —
    // the session audits its own staged writes; every other session
    // reads main untouched until `CALL system.fast_forward` publishes.
    // Explicit time travel and branchless tables are unaffected.
    SnapshotCatalog.wapBranch(spark) match {
      case Some(b) if asOf == 0L && SnapshotLog.branchExists(spark, root, b) =>
        new SnapshotTableV2(root, 0L,
          Some((b, SnapshotLog.branchPin(spark, root, b))), catName)
      // a current-head table reads the head the existence test found
      case _ if asOf == 0L => new SnapshotTableV2(root, 0L, None, catName,
        Some(SnapshotLog.resolve(spark, root, head)))
      case _ => new SnapshotTableV2(root, asOf, None, catName)
    }
  }

  /** Plain load — plus the Iceberg-style METADATA tables: a two-part
    * identifier whose last part is `history`/`snapshots`/`files`
    * introspects the table named by the first part (`SELECT * FROM
    * snap.t.history`), answered from manifests alone — zero data files
    * opened.
    */
  override def loadTable(ident: Identifier): Table =
    if (ident.namespace.length == 1 &&
        SnapshotCatalog.MetaKinds(ident.name.toLowerCase)) {
      // a REAL table at the full path wins: the meta suffixes are a
      // fallback, not reserved names — a genuine table that happens to
      // be called <t>/history stays addressable through the catalog
      val root = rootOf(Identifier.of(Array.empty, ident.namespace()(0)))
      if (SnapshotLog.currentId(spark, s"$root/${ident.name}") > 0L)
        new SnapshotTableV2(s"$root/${ident.name}", 0L, None, catName)
      else if (SnapshotLog.currentId(spark, root) > 0L)
        new SnapshotMetaTable(root, ident.name.toLowerCase)
      else throw new NoSuchTableException(ident)
    } else tableAt(ident, 0L)

  /** `VERSION AS OF n` — the analyzer hands the version text. A
    * non-numeric version resolves as a NAMED REF on the table: a TAG
    * reads the pinned snapshot, a BRANCH reads the branch HEAD (fork
    * content plus every branch append — work invisible to plain reads
    * until fastForward publishes it), both Iceberg's ref semantics.
    * The branch head is pinned HERE (its commit count), so the read
    * stays consistent under concurrent branch appends.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.trim
    try tableAt(ident, v.toLong)
    catch {
      case _: NumberFormatException =>
        val root = rootOf(ident)
        if (SnapshotLog.hasTag(spark, root, v))
          tableAt(ident, SnapshotLog.tagId(spark, root, v))
        else if (SnapshotLog.branchExists(spark, root, v))
          new SnapshotTableV2(root, 0L,
            Some((v, SnapshotLog.branchPin(spark, root, v))), catName)
        else throw new NoSuchTableException(ident)
    }
  }

  /** `TIMESTAMP AS OF ts` — the analyzer hands epoch MICROseconds;
    * resolved against manifest publish times (write-once, so mtime is
    * commit time).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    tableAt(ident, SnapshotLog.snapshotAtTime(spark, root, timestamp / 1000L))
  }

  override def tableExists(ident: Identifier): Boolean =
    try SnapshotLog.currentId(spark, rootOf(ident)) > 0L
    catch { case _: Exception => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    warehouse.toArray.flatMap { w =>
      val fs = new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = new Path(w)
      if (!fs.exists(p)) Array.empty[Identifier]
      else fs.listStatus(p).iterator
        .filter(_.isDirectory)
        .filter(st => fs.exists(new Path(st.getPath, "snap")))
        .map(st => Identifier.of(Array.empty, st.getPath.getName))
        .toArray
    }
  }

  /** SQL `CREATE TABLE` (no AS SELECT — that goes through the staging
    * door below): a metadata-only empty snapshot carrying the schema
    * and the declared hidden-partitioning spec parsed from the DSv2
    * transforms (the inverse of [[SnapshotTableV2.partitioning]]).
    * Table properties are accepted and ignored — location is the
    * identifier, the provider is this format.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    SnapshotLog.createTable(spark, root, schema,
      partitions.toSeq.map(SnapshotCatalog.partFieldOf))
    new SnapshotTableV2(root, 0L, None, catName)
  }

  /** SQL `ALTER TABLE` — each supported change routes to the library's
    * metadata-only evolution commit (field ids preserved, zero data
    * movement): RENAME COLUMN → renameColumn, ALTER COLUMN … TYPE →
    * widenColumn (lossless promotions only — the library refuses the
    * rest), DROP COLUMN → dropColumn, ADD COLUMN (nullable, top-level,
    * unpositioned) → addColumn. Each change is one commit; Spark sends
    * one change per ALTER statement.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    // every verb takes dotted paths into nested structs (field-id
    // resolved, metadata-only) — the library refuses the unsound arms
    def path(names: Array[String]): String = names.mkString(".")
    changes.foreach {
      case r: TableChange.RenameColumn =>
        SnapshotLog.renameColumn(spark, root, path(r.fieldNames), r.newName)
      case u: TableChange.UpdateColumnType =>
        SnapshotLog.widenColumn(spark, root, path(u.fieldNames), u.newDataType)
      case d: TableChange.DeleteColumn =>
        SnapshotLog.dropColumn(spark, root, path(d.fieldNames))
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          "added columns must be nullable: existing rows read NULL")
        require(a.position == null,
          "ADD COLUMN … FIRST/AFTER is not supported; columns append")
        SnapshotLog.addColumn(spark, root, path(a.fieldNames), a.dataType)
      // declared write sort order: `ALTER TABLE t SET TBLPROPERTIES
      // ('write.ordered-by' = 'k, ts desc')` — a metadata-only commit;
      // subsequent writes sort their files by it and stamp them
      case s: TableChange.SetProperty
          if s.property == SnapshotCatalog.SortOrderKey =>
        SnapshotLog.setSortOrder(spark, root,
          SnapshotCatalog.parseSortOrderProp(s.value))
      case r: TableChange.RemoveProperty
          if r.property == SnapshotCatalog.SortOrderKey =>
        SnapshotLog.setSortOrder(spark, root, Seq.empty)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER on snapshot-log tables: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    try SnapshotLog.dropTable(spark, rootOf(ident))
    catch { case _: NoSuchTableException => false }

  // ---- atomic CTAS / RTAS (StagingTableCatalog): the staged table
  // BUFFERS the query frame and publishes everything — data, schema,
  // declared spec — as ONE library commit at commitStagedChanges, so
  // `CREATE OR REPLACE TABLE … AS SELECT` is all-or-nothing: REPLACE
  // is an overwrite commit (history preserved — the reference
  // warehouse's WRITE_TRUNCATE refresh), CREATE publishes v1 with the
  // data, and an abort publishes nothing at all (no drop-then-create
  // window, no half-created table). ----

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      mustExist: Boolean, mayExist: Boolean): Table = {
    val root = rootOf(ident)
    val exists = SnapshotLog.currentId(spark, root) > 0L
    if (mustExist && !exists) throw new NoSuchTableException(ident)
    if (!mayExist && exists)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    new StagedSnapshotTable(root, schema,
      partitions.toSeq.map(SnapshotCatalog.partFieldOf),
      mode = if (mustExist) "replace"
        else if (mayExist) "createOrReplace" else "create")
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table with
      org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, mustExist = false, mayExist = false)
      .asInstanceOf[StagedSnapshotTable]

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table with
      org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, mustExist = true, mayExist = true)
      .asInstanceOf[StagedSnapshotTable]

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table with
      org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, mustExist = false, mayExist = true)
      .asInstanceOf[StagedSnapshotTable]

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snapshot-log tables are addressed by path; move the directory")

  // ---- maintenance procedures: `CALL <cat>.system.<verb>(…)` — see
  // [[SnapshotProcedures]]. The `table` argument resolves exactly like
  // a table identifier (absolute path, or name under the warehouse
  // root). ----

  private def resolveTableArg(t: String): String =
    rootOf(Identifier.of(Array.empty, t))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live under the system namespace: $ident")
    SnapshotProcedures.load(ident.name, resolveTableArg).getOrElse(
      throw new NoSuchTableException(ident))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else SnapshotProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- FunctionCatalog: the layout transforms as loadable V2
  // functions — what Spark's storage-partitioned-join planner resolves
  // a scan's reported `KeyGroupedPartitioning(bucket(n, col))` against
  // (V2ExpressionUtils looks the transform up by bare name on the
  // relation's own catalog). ----

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    else ident.name.toLowerCase match {
      case "bucket" => SnapshotBucketFunction
      case t @ ("days" | "hours" | "months") => new SnapshotTimeFunction(t)
      // width 1..999999999: positive (the writer validates trunc n>0;
      // a zero width would floorMod-by-zero at evaluation) and within
      // Int (an unparseable width is "no such function", not a
      // NumberFormatException out of resolution)
      case t if t.startsWith("trunc_") &&
          t.stripPrefix("trunc_").matches("[1-9][0-9]{0,8}") =>
        new SnapshotTruncFunction(t.stripPrefix("trunc_").toInt)
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      // the width-curried trunc_<n> family resolves dynamically in
      // loadFunction; the listing names the fixed transforms
      Array("bucket", "days", "hours", "months")
        .map(Identifier.of(Array.empty, _))
    else Array.empty
}

object SnapshotCatalog {

  /** The session's write-audit-publish branch, if any — consumed by
    * plain-read resolution AND the write door, so one conf flips the
    * whole session into staging mode (Iceberg's `spark.wap.branch`).
    */
  private[sources] def wapBranch(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.wap.branch")
      .map(_.trim).filter(_.nonEmpty)

  private[sources] val MetaKinds =
    Set("history", "snapshots", "files", "changes", "stats", "partitions",
      "refs")

  /** Table property carrying the declared write sort order —
    * `'write.ordered-by' = 'k, ts desc'` (fields comma-separated, an
    * optional `asc`/`desc` per field, `:d` accepted as a compact
    * desc marker).
    */
  private[sources] val SortOrderKey = "write.ordered-by"

  private[sources] def parseSortOrderProp(v: String)
      : Seq[SnapshotLog.SortField] =
    v.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { t =>
      val lower = t.toLowerCase(java.util.Locale.ROOT)
      if (t.endsWith(":d")) SnapshotLog.SortField(t.dropRight(2).trim, asc = false)
      else if (lower.endsWith(" desc"))
        SnapshotLog.SortField(t.dropRight(5).trim, asc = false)
      else if (lower.endsWith(" asc"))
        SnapshotLog.SortField(t.dropRight(4).trim, asc = true)
      else SnapshotLog.SortField(t, asc = true)
    }

  private[sources] def renderSortOrderProp(
      so: Seq[SnapshotLog.SortField]): String =
    so.map(f => if (f.asc) f.column else s"${f.column} desc").mkString(", ")

  /** Parse a textual partition spec — `"bucket(8, k), days(ts)"` —
    * into [[SnapshotLog.PartField]]s: the `CALL system
    * .set_partition_spec` argument vocabulary, matching the DDL
    * transform names ([[partFieldOf]]). Two-argument transforms take
    * the integer as the width and the other token as the column, in
    * either order (Iceberg SQL writes `truncate(col, n)`, its Java API
    * `truncate(n, col)` — both read the same here). Empty/blank =
    * clear the spec.
    */
  private[sources] def parsePartSpecProp(v: String)
      : Seq[SnapshotLog.PartField] = {
    val token = """(?i)\s*([a-z]+)\s*\(([^)]*)\)\s*""".r
    val trail = v.trim
    if (trail.isEmpty) Seq.empty
    else trail.split(',').toSeq
      // re-join args split apart by the top-level comma split:
      // "bucket(8" + " k)" — a fragment without ')' glues forward
      .foldLeft(Vector.empty[String]) { (acc, part) =>
        if (acc.nonEmpty && acc.last.count(_ == '(') >
          acc.last.count(_ == ')')) acc.init :+ s"${acc.last},$part"
        else acc :+ part
      }
      .map {
        case token(name, args) =>
          val as = args.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          def oneCol = {
            require(as.size == 1,
              s"$name(col) takes exactly one column, got ($args)")
            as.head
          }
          name.toLowerCase(java.util.Locale.ROOT) match {
            case t @ ("days" | "hours" | "months") =>
              SnapshotLog.PartField(t, oneCol)
            case t @ ("bucket" | "trunc" | "truncate") =>
              require(as.size == 2,
                s"$name takes (n, col) or (col, n), got ($args)")
              val (w, c) = as.partition(_.forall(_.isDigit))
              require(w.size == 1 && c.size == 1,
                s"$name needs one integer width and one column, got ($args)")
              SnapshotLog.PartField(
                if (t == "bucket") "bucket" else "trunc", c.head, w.head.toInt)
            case other => throw new UnsupportedOperationException(
              s"unsupported partition transform $other(...); supported: " +
                "days/hours/months(col), bucket(n, col), truncate(col, n)")
          }
        case bad => throw new IllegalArgumentException(
          s"cannot parse partition spec fragment '$bad' " +
            "(expected name(args), comma-separated)")
      }
  }

  /** Whether writes to `root` take the true DSv2 BATCH_WRITE path
    * (executor-written files under Spark's prepared distribution +
    * ordering) — exactly when the table declares a layout worth
    * distributing for, and no frame-level machinery (WAP branch
    * routing, SQL transaction staging, fanout's range-clustered
    * routing) needs the whole DataFrame driver-side. Must agree between
    * [[SnapshotTableV2.capabilities]] and the write builder: the
    * planner errors on a V1_BATCH_WRITE table whose Write isn't V1.
    * Both pass the same resolved `head` (None: an empty log); the
    * write itself still commits against the head at commit time.
    */
  private[sources] def v2WritePath(spark: SparkSession,
      head: => Option[SnapshotLog.Resolved]): Boolean = {
    val fanout = spark.conf.getOption("spark.graft.write.fanout")
      .exists(_.toBoolean)
    !fanout && wapBranch(spark).isEmpty && !SqlTxn.isActive(spark) &&
      head.exists(snap => snap.spec.nonEmpty || snap.sortOrder.nonEmpty)
  }

  /** A declared partition field as the V2 transform THE CATALOG'S OWN
    * FunctionCatalog serves (trunc stays width-curried as `trunc_<n>`
    * — a literal child would fail Spark's clustering checks): the
    * vocabulary both the scan's reported partitioning and the write's
    * required distribution must share, or SPJ/write planning would
    * bind two names for one function.
    */
  private[sources] def v2TransformOf(f: SnapshotLog.PartField)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    f.transform match {
      case "bucket" => Expressions.bucket(f.n, f.column)
      case "days" => Expressions.days(f.column)
      case "hours" => Expressions.hours(f.column)
      case "months" => Expressions.months(f.column)
      case "trunc" => Expressions.apply(s"trunc_${f.n}",
        Expressions.column(f.column))
      case other => throw new IllegalStateException(
        s"unknown partition transform $other")
    }
  }

  /** One DSv2 partition transform → the library's [[SnapshotLog
    * .PartField]] — the inverse of [[SnapshotTableV2.partitioning]].
    * `truncate` accepts (col, width) in either argument order (both
    * appear in the wild); identity transforms are rejected with the
    * supported vocabulary (hidden partitioning stores RAW columns and
    * derives bands — a plain partition column is what it replaces).
    */
  private[sources] def partFieldOf(t: Transform): SnapshotLog.PartField = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference}
    def column: String = t.arguments.collectFirst {
      case r: NamedReference => r.fieldNames.mkString(".")
    }.getOrElse(throw new IllegalArgumentException(
      s"transform $t names no column"))
    def width: Int = t.arguments.collectFirst {
      case l: VLiteral[_] => l.value.toString.toInt
    }.getOrElse(throw new IllegalArgumentException(
      s"transform $t carries no integer argument"))
    t.name match {
      case "days" | "hours" | "months" => SnapshotLog.PartField(t.name, column)
      case "bucket" => SnapshotLog.PartField("bucket", column, width)
      case "truncate" | "trunc" => SnapshotLog.PartField("trunc", column, width)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other(...); supported: " +
          "days/hours/months(col), bucket(n, col), truncate(col, n)")
    }
  }

  /** The [[SnapshotScan]] a planned catalog query resolved to — how
    * specs assert FILE pruning through the SQL path (kept vs total),
    * not just the answer.
    */
  def scanOf(df: DataFrame): SnapshotScanLike = scansOf(df).head

  /** Every snapshot scan `df`'s optimized plan reads, library reads
    * included — what specs sum file pruning over.
    */
  private[graft] def scansOf(df: DataFrame): Seq[SnapshotScanLike] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan match {
          case s: SnapshotScanLike => Some(s)
          case w =>
            // the V1 fallback wraps the scan in Spark's (private)
            // V1ScanWrapper — unwrap through its v1Scan accessor
            try w.getClass.getMethod("v1Scan").invoke(w) match {
              case s: SnapshotScanLike => Some(s)
              case _ => None
            } catch { case _: NoSuchMethodException => None }
        }
    }.flatten

  /** Render a pushed literal the way file stats were rendered at write
    * time (`min(col).cast("string")`), so band comparison is apples to
    * apples: numerics via toString (statGt parses decimals, scientific
    * included), strings as-is, dates ISO, timestamps as epoch micros
    * (the zone-independent stat rendering). None =
    * unprunable type (the conjunct still filters rows, it just skips
    * no files).
    */
  private[graft] def render(value: Any): Option[String] = value match {
    case null => None
    case s: String => Some(s)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case b: Boolean => Some(b.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      Some(n.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.underlying.toPlainString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.sql.Timestamp => Some(renderInstant(t.toInstant))
    case i: java.time.Instant => Some(renderInstant(i))
    case _ => None
  }

  /** Epoch MICROS — the rendering timestamp stats are written with
    * (`unix_micros`, zone-independent), so band compares are exact
    * under any session zone; statGt normalizes legacy datetime stats
    * to the same scale.
    */
  private def renderInstant(i: java.time.Instant): String =
    java.lang.Math.addExact(
      java.lang.Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong).toString

  /** One pushed conjunct → the (column, lower, upper) box its stat
    * band can prune on. Strict bounds prune with their inclusive
    * envelope (conservative: may keep an extra boundary file, never
    * skips a matching one). Top-level IN folds to its value range.
    */
  private[sources] def boxOf(f: sources.Filter)
      : Seq[(String, Option[String], Option[String])] = f match {
    case sources.EqualTo(a, v) =>
      render(v).toSeq.map(r => (a, Some(r), Some(r)))
    case sources.EqualNullSafe(a, v) if v != null =>
      render(v).toSeq.map(r => (a, Some(r), Some(r)))
    case sources.GreaterThan(a, v) => render(v).toSeq.map(r => (a, Some(r), None))
    case sources.GreaterThanOrEqual(a, v) =>
      render(v).toSeq.map(r => (a, Some(r), None))
    case sources.LessThan(a, v) => render(v).toSeq.map(r => (a, None, Some(r)))
    case sources.LessThanOrEqual(a, v) =>
      render(v).toSeq.map(r => (a, None, Some(r)))
    case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      // range envelope of the value set under the NATIVE order (the
      // rendered strings don't order numerics); mixed/unorderable
      // value sets skip nothing
      val nums = vs.flatMap {
        case n @ (_: Byte | _: Short | _: Int | _: Long |
                  _: Float | _: Double) => Some(BigDecimal(n.toString))
        case d: java.math.BigDecimal => Some(BigDecimal(d))
        case _ => None
      }
      val instants = vs.flatMap {
        case t: java.sql.Timestamp => Some(renderInstant(t.toInstant).toLong)
        case i: java.time.Instant => Some(renderInstant(i).toLong)
        case _ => None
      }
      if (nums.length == vs.length)
        Seq((a, Some(nums.min.underlying.toPlainString),
          Some(nums.max.underlying.toPlainString)))
      else if (instants.length == vs.length)
        // micros order IS timestamp order, so the envelope is exact
        Seq((a, Some(instants.min.toString), Some(instants.max.toString)))
      else {
        val strs = vs.flatMap { case s: String => Some(s); case _ => None }
        if (strs.length == vs.length)
          // min/max under UTF-8 BYTE order — the order the stat bands
          // compare in (statGt/utf8Gt). JVM String min/max (UTF-16
          // units) would invert the envelope for values containing
          // supplementary-plane code points (surrogates sort below
          // [U+E000, U+FFFF] in UTF-16 but above them by code point),
          // making lo > hi and pruning every matching file.
          Seq((a,
            Some(strs.reduce((x, y) =>
              if (graft.operators.SnapshotLog.utf8Gt(x, y)) y else x)),
            Some(strs.reduce((x, y) =>
              if (graft.operators.SnapshotLog.utf8Gt(x, y)) x else y))))
        else Seq.empty
      }
    case sources.And(l, r) => boxOf(l) ++ boxOf(r)
    case _ => Seq.empty
  }

  /** One pushed filter → the Catalyst predicate the inner plan
    * evaluates, when every leaf translates EXACTLY (else None and the
    * filter stays residual with Spark). The translation is the plain
    * SQL semantics of each leaf — null-eliminating comparisons,
    * null-safe `<=>` for EqualNullSafe.
    */
  private[sources] def columnOf(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.Not(c) => columnOf(c).map(!_)
    case sources.And(l, r) =>
      for (lc <- columnOf(l); rc <- columnOf(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- columnOf(l); rc <- columnOf(r)) yield lc || rc
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  // ---- three-valued per-file filter evaluation: the per-row outcome
  // set. Each constant is a bit; a value is a provable SUPERSET of the
  // outcomes {TRUE, FALSE, NULL} the filter takes across the file's
  // rows. Supersets keep every combinator sound: And/Or form the
  // Kleene product over the operand sets, Not maps elementwise
  // (TRUE↔FALSE, NULL fixed). Collapsing NULL into FALSE here would be
  // fine for "does any row pass" but flips to a WRONG all-true under
  // Not — `x NOT IN (1, NULL)` is NULL, never TRUE, yet a
  // false-collapsed inner In would negate to "every row passes".
  private final val TvT = 1 // some rows may evaluate TRUE
  private final val TvF = 2 // some rows may evaluate FALSE
  private final val TvN = 4 // some rows may evaluate NULL
  private final val TvAll = TvT | TvF | TvN

  private def tvNot(s: Int): Int =
    (if ((s & TvT) != 0) TvF else 0) |
      (if ((s & TvF) != 0) TvT else 0) | (s & TvN)

  private def tvPairs(a: Int, b: Int)(op: (Int, Int) => Int): Int = {
    var out = 0
    for (x <- Seq(TvT, TvF, TvN) if (a & x) != 0;
         y <- Seq(TvT, TvF, TvN) if (b & y) != 0) out |= op(x, y)
    out
  }

  // Kleene AND / OR on single outcomes
  private def tvAnd1(x: Int, y: Int): Int =
    if (x == TvF || y == TvF) TvF
    else if (x == TvN || y == TvN) TvN else TvT
  private def tvOr1(x: Int, y: Int): Int =
    if (x == TvT || y == TvT) TvT
    else if (x == TvN || y == TvN) TvN else TvF

  /** Tri-state per-FILE filter evaluation from manifest metadata:
    * Some(true) = EVERY row of the file satisfies the filter,
    * Some(false) = NO row does (each row is FALSE or NULL — both are
    * non-matches to a WHERE), None = undecidable from metadata.
    *
    * Internally evaluates in genuine three-valued logic (the per-row
    * outcome SET over {TRUE, FALSE, NULL}) so that `Not` stays sound:
    * NULL-derived non-matches negate to NULL (still a non-match),
    * never to TRUE. The final Option collapses: all-true needs the
    * set to be exactly {TRUE}; all-false needs TRUE excluded.
    *
    * Decidability rests on two per-file facts the manifest records for
    * fanout layouts: POINT stats (min == max — the whole file holds one
    * value of the column, invertible under the current type) and the
    * per-file NULL COUNT (point stats skip nulls, so a point alone
    * never proves "every row" — a hidden NULL row fails an EqualTo the
    * point satisfies). A column ABSENT from the file (pre-evolution)
    * is all-NULL there: comparisons on it are uniformly NULL.
    *
    * This is what lets a partition predicate be claimed EXACT on the
    * batch scan: all-true files need no row re-check, all-false files
    * drop from the plan, and with no residual Filter left Spark can
    * push aggregates over the PRUNED set — `SELECT count(*) FROM t
    * WHERE day = …` answers from kilobytes of manifest at any size.
    */
  private[sources] def fileFilterState(f: SnapshotLog.FileEntry,
      schema: StructType, curIds: Map[String, Int],
      filter: sources.Filter): Option[Boolean] = {
    val s = eval3(f, schema, curIds, filter)
    if (s == TvT) Some(true)
    else if ((s & TvT) == 0) Some(false)
    else None
  }

  /** The per-row outcome superset of `filter` over `f`'s rows. */
  private def eval3(f: SnapshotLog.FileEntry, schema: StructType,
      curIds: Map[String, Int], filter: sources.Filter): Int = {
    def nullCount(c: String): Option[Long] =
      SnapshotLog.fileNullCount(f, c, curIds)
    def known(c: String): Boolean = schema.fieldNames.contains(c)
    def absent(c: String): Boolean =
      known(c) && SnapshotLog.physNameIn(f, c, curIds).isEmpty
    def allNull(c: String): Boolean =
      absent(c) || nullCount(c).contains(f.rows)
    def point(c: String): Option[Any] =
      if (!known(c)) None
      else SnapshotLog.physNameIn(f, c, curIds).flatMap(f.stats.get)
        .collect { case (mn, mx) if mn == mx => mn }
        .flatMap(SnapshotLog.statValueOf(schema(c).dataType, _))
    def typed(c: String, v: Any): Option[Any] =
      render(v).flatMap(SnapshotLog.statValueOf(schema(c).dataType, _))
    // the null-row contribution of a null-ELIMINATING op on column c:
    // rows where c IS NULL evaluate to NULL; none exist iff proven
    // null-free
    def nullBit(c: String): Int =
      if (nullCount(c).contains(0L)) 0 else TvN
    // null-eliminating comparison: value rows decide by the point stat
    // (when the file is single-valued), null rows contribute NULL
    def cmp(c: String, v: Any)(test: Int => Boolean): Int =
      if (!known(c)) TvAll
      else if (allNull(c)) TvN
      else (point(c), typed(c, v)) match {
        case (Some(p), Some(t)) =>
          val r = test(SnapshotLog.statValueCompare(schema(c).dataType, p, t))
          (if (r) TvT else TvF) | nullBit(c)
        case _ => TvT | TvF | nullBit(c)
      }
    def strPoint(c: String): Option[String] =
      point(c).collect {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      }
    def strOp(c: String)(test: String => Boolean): Int =
      if (!known(c)) TvAll
      else if (allNull(c)) TvN
      else strPoint(c) match {
        case Some(p) => (if (test(p)) TvT else TvF) | nullBit(c)
        case None => TvT | TvF | nullBit(c)
      }
    filter match {
      case sources.EqualTo(c, v) if v != null => cmp(c, v)(_ == 0)
      case sources.EqualTo(c, _) => // = NULL is uniformly NULL
        if (known(c)) TvN else TvAll
      case sources.EqualNullSafe(c, null) =>
        // <=> NULL is IS NULL: two-valued, never NULL
        if (allNull(c)) TvT
        else nullCount(c) match {
          case Some(0L) => TvF
          case Some(_) => TvT | TvF
          case None => TvT | TvF
        }
      case sources.EqualNullSafe(c, v) =>
        // null-SAFE: null rows compare FALSE to a non-null v, not NULL
        if (!known(c)) TvAll
        else if (allNull(c)) TvF
        else (point(c), typed(c, v)) match {
          case (Some(p), Some(t)) =>
            val r = SnapshotLog.statValueCompare(schema(c).dataType, p, t) == 0
            (if (r) TvT else TvF) |
              (if (nullCount(c).contains(0L)) 0 else TvF)
          case _ => TvT | TvF
        }
      case sources.GreaterThan(c, v) if v != null => cmp(c, v)(_ > 0)
      case sources.GreaterThanOrEqual(c, v) if v != null => cmp(c, v)(_ >= 0)
      case sources.LessThan(c, v) if v != null => cmp(c, v)(_ < 0)
      case sources.LessThanOrEqual(c, v) if v != null => cmp(c, v)(_ <= 0)
      case sources.In(c, vs) if vs != null && vs.nonEmpty =>
        // SQL IN: match → TRUE; no match → NULL if the list carries a
        // NULL, else FALSE; a NULL probe row → NULL
        if (!known(c)) TvAll
        else if (allNull(c)) TvN
        else {
          val hasNullElem = vs.exists(_ == null)
          val ts = vs.toSeq.filter(_ != null).map(typed(c, _))
          if (ts.isEmpty) TvN // IN (NULL,…) only: never TRUE, never FALSE
          else if (ts.exists(_.isEmpty)) TvAll
          else point(c) match {
            case Some(p) =>
              val m = ts.flatten.exists(t =>
                SnapshotLog.statValueCompare(schema(c).dataType, p, t) == 0)
              (if (m) TvT else if (hasNullElem) TvN else TvF) | nullBit(c)
            case None =>
              TvT | (if (hasNullElem) TvN else TvF) | nullBit(c)
          }
        }
      case sources.IsNull(c) => // two-valued, never NULL
        if (allNull(c)) TvT
        else nullCount(c) match {
          case Some(0L) => TvF
          case _ => TvT | TvF
        }
      case sources.IsNotNull(c) =>
        if (allNull(c)) TvF
        else nullCount(c) match {
          case Some(0L) => TvT
          case _ => TvT | TvF
        }
      case sources.StringStartsWith(c, p) => strOp(c)(_.startsWith(p))
      case sources.StringEndsWith(c, p) => strOp(c)(_.endsWith(p))
      case sources.StringContains(c, p) => strOp(c)(_.contains(p))
      case sources.And(l, r) =>
        tvPairs(eval3(f, schema, curIds, l), eval3(f, schema, curIds, r))(tvAnd1)
      case sources.Or(l, r) =>
        tvPairs(eval3(f, schema, curIds, l), eval3(f, schema, curIds, r))(tvOr1)
      case sources.Not(x) => tvNot(eval3(f, schema, curIds, x))
      case sources.AlwaysTrue() => TvT
      case sources.AlwaysFalse() => TvF
      case _ => TvAll
    }
  }
}

/** Format-style batch access to the same tables —
  * `spark.read.format("snapshot-log").option("root", dir)` with
  * optional `asOf` (snapshot id) / `asOfTimestamp` (epoch millis) —
  * for callers that want one-off reads without registering a catalog.
  * Resolves to the identical [[SnapshotTableV2]], so both doors share
  * every pruning and MoR guarantee. (The short name `snapshot-log` is
  * already the STREAMING source's; Spark resolves batch reads through
  * this provider class name or a `format(classOf[...].getName)` — use
  * `graft.sources.SnapshotBatch` as the format for unambiguous batch.)
  */
class SnapshotBatch extends org.apache.spark.sql.connector.catalog.TableProvider {

  override def supportsExternalMetadata(): Boolean = false

  private def tableOf(options: CaseInsensitiveStringMap): SnapshotTableV2 = {
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        "snapshot-log batch read needs option root=<table dir>"))
    Option(options.get("branch")) match {
      case Some(b) =>
        new SnapshotTableV2(root, 0L,
          Some((b, SnapshotLog.branchPin(SparkSession.active, root, b))))
      case None =>
        val asOf = Option(options.get("asOf")).map(_.toLong)
          .orElse(Option(options.get("asOfTimestamp")).map(ts =>
            SnapshotLog.snapshotAtTime(SparkSession.active, root, ts.toLong)))
          .getOrElse(0L)
        new SnapshotTableV2(root, asOf)
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableOf(options).schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    tableOf(new CaseInsensitiveStringMap(properties))
}

/** One snapshot-log table pinned (optionally) to a time-travel
  * snapshot or a branch head. The pin resolves ONCE ([[snap]]: lazily,
  * unless the catalog hands in the head it already resolved):
  * schema, partitioning and properties all describe that one snapshot
  * — a commit landing between those calls can never hand Spark a
  * table whose schema and layout disagree — so `VERSION AS OF` reads
  * resolve against the schema IN EFFECT then (a later rename never
  * leaks backwards into an old read) and a branch read sees the
  * branch's own evolution. Writes and new scans of a current-head
  * table still target the head (see [[capabilities]] and
  * [[newScanBuilder]]).
  */
private[graft] class SnapshotTableV2(val root: String, val asOf: Long,
    val branch: Option[(String, Long)] = None,
    catalogName: String = "snap",
    resolved: Option[SnapshotLog.Resolved] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.graft.V1FallbackTable {

  /** The V1 descriptor `writeStream.toTable` falls back to when a V2
    * table lacks STREAMING_WRITE (Delta's exact arrangement): it names
    * the registered `snapshot-log` provider with the table's path, so
    * the STREAMING SINK is the library's exactly-once tagged-commit
    * sink — `readStream.table` and `writeStream.toTable` ride the same
    * two V1 stream classes the format door uses.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(asOf == 0L && branch.isEmpty,
      s"cannot stream-write to a pinned read of $root: history is immutable")
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      // two-part name `<catalog>`.`<root>` — the post-batch
      // refreshTable resolves it back through THIS catalog (a bare
      // single-part name would look in the session catalog and fail)
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        root, Some(catalogName)),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty
        .copy(locationUri = Some(new Path(root).toUri),
          properties = Map("path" -> root)),
      schema = schema,
      provider = Some("snapshot-log"))
  }

  override def name(): String = branch match {
    case Some((b, _)) => s"snapshot-log `$root` @branch $b"
    case None if asOf > 0 => s"snapshot-log `$root` @v$asOf"
    case None => s"snapshot-log `$root`"
  }

  private lazy val snap: SnapshotLog.Resolved = resolved.getOrElse(
    SnapshotLog.resolve(SparkSession.active, root, asOf, branch))

  override lazy val schema: StructType = snap.schema

  /** The head writes target: [[snap]] itself for a current-head table
    * (so capabilities and the write builder decide from one value),
    * the root's head now for a pinned one.
    */
  private def writeHead: Option[SnapshotLog.Resolved] =
    if (asOf == 0L && branch.isEmpty) Some(snap)
    else SnapshotLog.resolveHead(SparkSession.active, root)

  // MICRO_BATCH_READ admits `readStream.table(...)` through analysis;
  // graft.plans.SnapshotStreamTableRule then substitutes the V1
  // snapshot-log streaming source before any V2 stream is ever built
  // (the scan's toMicroBatchStream is intentionally unreachable).
  // AUTOMATIC_SCHEMA_EVOLUTION admits `MERGE … WITH SCHEMA EVOLUTION`:
  // Spark's ResolveMergeIntoSchemaEvolution computes the additive
  // TableChanges and routes them through this catalog's alterTable
  // (the library's metadata-only addColumn commit) before the merge
  // resolves — existing rows read NULL for the new columns, zero data
  // movement, exactly the additive-evolution path a library append takes.
  //
  // The WRITE capability is the V1/V2 fork, and Spark's planner forces
  // it to be exclusive (a V1_BATCH_WRITE table whose Write is not a
  // V1Write is a planner error): a table with a DECLARED layout (spec
  // or sort order) advertises the true V2 BATCH_WRITE — executors run
  // the snapshot-log file writer over Spark's
  // RequiresDistributionAndOrdering-prepared query (AQE-rebalanced
  // clustering + in-task sort; the V1 fallback hands InsertableRelation
  // the UNPREPARED analyzed query, so distribution can never reach it)
  // — while plain tables, WAP sessions, active SQL transactions, and
  // fanout writes keep the library's V1 path (branch routing and
  // transaction staging need the whole DataFrame; fanout routes by the
  // library's range clustering). Both paths write through the same
  // per-task writer.
  override def capabilities(): util.Set[TableCapability] =
    if (SnapshotCatalog.v2WritePath(SparkSession.active, writeHead))
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    else
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The table's declared hidden-partitioning spec, reported through
    * the standard DSv2 transform vocabulary (`DESCRIBE` / catalog
    * introspection see `days(ts)` etc. exactly as on Iceberg tables).
    */
  override def partitioning(): Array[Transform] =
    snap.spec.map { f =>
      import org.apache.spark.sql.connector.expressions.Expressions
      f.transform match {
        case "bucket" => Expressions.bucket(f.n, f.column)
        case "days" => Expressions.days(f.column)
        case "hours" => Expressions.hours(f.column)
        case "months" => Expressions.months(f.column)
        case "trunc" => Expressions.apply("truncate",
          Expressions.column(f.column), Expressions.literal(Int.box(f.n)))
      }
    }.toArray

  override def properties(): util.Map[String, String] = {
    val so = snap.sortOrder
    (Map("provider" -> "snapshot-log", "location" -> root) ++
      (if (so.isEmpty) Map.empty[String, String]
       else Map(SnapshotCatalog.SortOrderKey ->
         SnapshotCatalog.renderSortOrderProp(so)))).asJava
  }

  /** A current-head table plans each new scan against the head as of
    * builder creation (reusing [[snap]] while it still IS the head); a
    * time-travel or branch table scans its pinned snapshot.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val scanSnap =
      if (asOf > 0L || branch.isDefined) snap
      else {
        val head = SnapshotLog.currentId(SparkSession.active, root)
        if (head == snap.id) snap
        else SnapshotLog.resolve(SparkSession.active, root, head)
      }
    new SnapshotScanBuilder(scanSnap, schema)
  }

  /** `DELETE FROM t WHERE …` — accepted only when EVERY conjunct
    * translates exactly (canDeleteWhere; Spark falls back to an
    * analysis error otherwise, never a partial delete), then executed
    * as the library's copy-on-write [[SnapshotLog.deleteWhere]]: one
    * atomic commit, only match-bearing files rewritten, history keeps
    * the pre-delete snapshot addressable.
    */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    asOf == 0L && branch.isEmpty &&
      filters.forall(f => SnapshotCatalog.columnOf(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(asOf == 0L && branch.isEmpty,
      s"cannot delete from a pinned read of $root: history is immutable " +
        "(branch writes go through SnapshotLog.appendToBranch)")
    val pred = filters.toSeq.flatMap(SnapshotCatalog.columnOf)
      .reduceOption(_ && _).getOrElse(lit(true))
    SnapshotLog.deleteWhere(SparkSession.active, root, pred)
  }

  /** SQL DML through the library's transactional commits: `INSERT
    * INTO` = [[SnapshotLog.append]] (additive evolution, declared-spec
    * routing, stat/bloom stamping — everything a library append gets),
    * `INSERT OVERWRITE` = [[SnapshotLog.overwrite]]. A time-travel
    * table refuses writes — history is immutable.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // WAP: with `spark.graft.wap.branch` set, SQL INSERT lands on the
    // branch (auto-forked at the current head on first write) — main
    // readers see nothing until fast_forward publishes. The branch pin
    // a WAP READ resolved to is the same branch, so INSERT INTO a
    // table this session already reads through WAP also routes here.
    SnapshotCatalog.wapBranch(SparkSession.active) match {
      case Some(b) if asOf == 0L && branch.forall(_._1 == b) =>
        // a WAP write bypasses transaction staging — combining the two
        // would silently tear the transaction's all-or-nothing batch
        require(!SqlTxn.isActive(SparkSession.active),
          "cannot INSERT under spark.graft.wap.branch while a SQL " +
            "transaction is active; commit_txn/abort_txn first (or " +
            "unset the WAP branch)")
        return new SnapshotBranchWriteBuilder(root, b)
      case _ => ()
    }
    require(asOf == 0L && branch.isEmpty,
      s"cannot write to a pinned read of $root: history is immutable " +
        "(branch writes go through SnapshotLog.appendToBranch, or set " +
        "spark.graft.wap.branch for SQL write-audit-publish)")
    new SnapshotWriteBuilder(root, info.schema(), snap)
  }
}

/** WAP write door: `INSERT INTO` while `spark.graft.wap.branch` is set
  * appends to the named branch — the library's [[SnapshotLog
  * .appendToBranch]] (spec routing, additive evolution, `__seq`
  * stamping for post-publish delete sequencing), forking the branch at
  * the current head on first use. OVERWRITE/TRUNCATE under WAP refuse
  * loudly: the audit protocol stages APPENDS; a destructive verb must
  * be an explicit main-line decision.
  */
private[sources] class SnapshotBranchWriteBuilder(root: String, name: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: sources.InsertableRelation =
        new sources.InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit = {
            require(!overwrite,
              s"INSERT OVERWRITE under WAP (branch $name) is not " +
                "supported; publish or drop the branch instead")
            val s = data.sparkSession
            if (!SnapshotLog.branchExists(s, root, name))
              SnapshotLog.createBranch(s, root, name)
            SnapshotLog.appendToBranch(s, root, name, data)
          }
        }
    }
}

/** The catalog's write builder, two paths chosen by
  * [[SnapshotCatalog.v2WritePath]]:
  *
  *  - a LAYOUT-DECLARED table (partition spec or sort order) builds
  *    [[SnapshotV2Write]] — Spark's true DSv2 batch write, where
  *    `RequiresDistributionAndOrdering` plans the AQE
  *    `RebalancePartitions` clustering + the declared sort ONCE and
  *    executors run the snapshot-log file writer
  *    ([[graft.operators.SnapshotFileWriter]]) into final parquet files;
  *  - otherwise (or when WAP routing / SQL transaction staging needs
  *    the whole DataFrame driver-side, or fanout asks for the library's
  *    range-clustered routing) the `V1_BATCH_WRITE` fallback hands
  *    `InsertableRelation` the query and the body is just the library
  *    call — SQL writes and API writes share one file writer and one
  *    commit protocol (CAS manifest rename, race retry, spec routing)
  *    either way.
  */
private[sources] class SnapshotWriteBuilder(root: String,
    schema: StructType, head: SnapshotLog.Resolved)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var truncateFirst = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    val spark = SparkSession.active
    if (SnapshotCatalog.v2WritePath(spark, Some(head)))
      new SnapshotV2Write(root, schema, truncateFirst)
    else
      new org.apache.spark.sql.connector.write.V1Write {
        override def toInsertableRelation: sources.InsertableRelation =
          new sources.InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val ow = truncateFirst || overwrite
              // an active SQL transaction (CALL system.begin_txn)
              // buffers instead of committing; commit_txn lands the
              // whole batch as one atomic multi-table transaction
              if (SqlTxn.stage(data.sparkSession, root, data, ow)) return
              if (ow)
                SnapshotLog.overwrite(data.sparkSession, root, data)
              else
                SnapshotLog.append(data.sparkSession, root, data)
            }
          }
      }
  }
}

/** The true DSv2 batch write for layout-declared tables: asks Spark
  * for the table's clustering (non-strict → AQE RebalancePartitions:
  * small shuffle partitions coalesce toward the advisory size, a
  * skewed partition value SPLITS across tasks — neither of which the
  * library's own repartitionByRange can do) and its declared sort;
  * executors then run the one snapshot-log file writer
  * ([[graft.operators.SnapshotWriterFactory]]) over their task's rows,
  * and the driver describes exactly the files the committed tasks'
  * messages name ([[SnapshotLog.describeFiles]]) and publishes them
  * through the manifest-CAS protocol a library append uses. Visibility
  * is by manifest, so aborted/speculative attempts leak at worst an
  * orphan file for vacuum — never a torn table.
  */
private[sources] class SnapshotV2Write(root: String, schema: StructType,
    doOverwrite: Boolean)
  extends org.apache.spark.sql.connector.write.Write
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val spark = SparkSession.active
  private val (spec, sortApply, derived) =
    SnapshotLog.writeLayout(spark, root, schema)

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (spec.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions
        .clustered(spec.filter(f => schema.fieldNames.contains(f.column))
          .map(SnapshotCatalog.v2TransformOf).toArray)

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredNumPartitions(): Int = 0

  /** The partition transforms lead the required ordering (ascending —
    * the direction is arbitrary, grouping is what matters), the
    * declared sort follows: within a task rows then arrive grouped by
    * partition value, so the writer can roll one file per value
    * (point bands — what SPJ, bucket pruning, and day-band pruning
    * all read) while each file's interior order is still exactly the
    * declared sort.
    */
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val specLead = spec.filter(f => schema.fieldNames.contains(f.column))
      .map(f => Expressions.sort(
        SnapshotCatalog.v2TransformOf(f),
        org.apache.spark.sql.connector.expressions
          .SortDirection.ASCENDING))
    val declared = sortApply.map(f => Expressions.sort(
      Expressions.column(f.column),
      if (f.asc)
        org.apache.spark.sql.connector.expressions
          .SortDirection.ASCENDING
      else
        org.apache.spark.sql.connector.expressions
          .SortDirection.DESCENDING))
    (specLead ++ declared).toArray
  }

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new org.apache.spark.sql.connector.write.BatchWrite {
      private val dataDir = SnapshotFileWriter.freshDir(
        SnapshotLog.currentId(spark, root) + 1)

      override def createBatchWriterFactory(
          info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.DataWriterFactory =
        SnapshotFileWriter.factory(spark, root, dataDir, schema, spec)

      override def commit(messages: Array[
          org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
        val described = SnapshotLog.describeFiles(spark, root,
          messages.toSeq.flatMap {
            case m: SnapshotWriteMessage => m.files
            case _ => Nil
          }, schema, bloomSpec = None, derivedStats = derived)
        SnapshotLog.commitDescribed(spark, root, schema, described,
          overwrite = doOverwrite, sortApplied = sortApply)
      }

      override def abort(messages: Array[
          org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
        val fs = new Path(root).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        messages.foreach {
          case m: SnapshotWriteMessage => m.files.foreach { case (rel, _) =>
            try fs.delete(new Path(s"$root/$rel"), false)
            catch { case scala.util.control.NonFatal(_) => () }
          }
          case _ => ()
        }
      }
    }
}

/** The relation a library read plans ([[SnapshotLog.scanFiles]]): one
  * snapshot's explicit file list and the delete vectors that apply to
  * it, fixed in `plan`. Its builder always builds the batch scan —
  * equality deletes are the caller's joins above it — and `withPos`
  * adds the `__path`/`__pos` coordinate columns.
  */
private[graft] class SnapshotFilesTable(plan: SnapshotLog.CatalogBatchPlan,
    withPos: Boolean) extends Table with SupportsRead {

  override def name(): String =
    s"snapshot-log `${plan.snap.root}` ${plan.snap.pinLabel}"

  // every column reads nullable: a file that predates a column reads
  // it as NULL, whatever the committed DDL says
  private val nullable =
    StructType(plan.snap.schema.fields.map(_.copy(nullable = true)))

  override lazy val schema: StructType =
    if (!withPos) nullable
    else StructType(nullable.fields ++
      Seq("__path", "__pos").map(SnapshotBatchScan.CoordFields(_)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(plan.snap, nullable, Some(plan))
}

/** Receives Spark's pushdown: required columns prune the projection;
  * pushed conjuncts drive manifest file pruning (all of them — even a
  * residual-only filter's box can skip files) and, where fully
  * translatable, become exact predicates evaluated inside the produced
  * plan. `snap` is the snapshot the scan reads — the table's own for a
  * time-travel or branch read, the head at builder creation for a
  * current-head read — so the file plan and the execution-time MoR
  * resolution (schema, delete vectors, equality deletes) come from the
  * SAME snapshot: a commit landing between plan and execute can never
  * produce a mixed-snapshot read. `pinned` is a library read's file
  * list and delete vectors ([[SnapshotFilesTable]]): pruning starts
  * from its files instead of the snapshot's, and the batch scan is
  * always built.
  */
private[sources] class SnapshotScanBuilder(snap: SnapshotLog.Resolved,
    tableSchema: StructType,
    pinned: Option[SnapshotLog.CatalogBatchPlan] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var required: StructType = tableSchema
  private var coords: Seq[String] = Seq.empty
  private var exact: Seq[sources.Filter] = Seq.empty
  private var allPushed: Seq[sources.Filter] = Seq.empty
  private var claimed: Seq[sources.Filter] = Seq.empty
  private var boxes: Seq[(String, Option[String], Option[String])] = Seq.empty
  private var aggScan: Option[SnapshotAggScan] = None
  private var limit: Option[Int] = None

  /** ONE file plan shared by pushFilters' claim decision, the
    * aggregate pushdown, and build() — keyed by the pruning boxes
    * (identical within one builder lifecycle after pushFilters ran).
    */
  private var planCache
      : (Seq[(String, Option[String], Option[String])],
        SnapshotLog.CatalogBatchPlan) = null

  private def resolvePlan(): SnapshotLog.CatalogBatchPlan = {
    val c = planCache
    if (c != null && c._1 == boxes) return c._2
    val p = pinned match {
      case Some(base) =>
        base.copy(kept = SnapshotLog.boxFiles(snap, boxes, Some(base.kept)))
      case None => SnapshotLog.CatalogBatchPlan(snap, SnapshotLog.boxFiles(snap, boxes))
    }
    planCache = (boxes, p)
    p
  }

  /** The planned file set with the CLAIMED filters applied exactly:
    * all-true files stay, all-false files drop. Sound because claiming
    * required every planned file to decide every claimed filter.
    */
  private def refinedKept(plan: SnapshotLog.CatalogBatchPlan)
      : Seq[SnapshotLog.FileEntry] =
    if (claimed.isEmpty) plan.kept
    else plan.kept.filter(f => claimed.forall(c =>
      SnapshotCatalog.fileFilterState(f, snap.schema, snap.curIds, c)
        .contains(true)))

  // ---- limit pushdown into FILE PLANNING: a bare `LIMIT n` needs
  // only the first files whose manifest row counts reach n — a probe
  // query (`SELECT * FROM t LIMIT 10`) on a million-file table then
  // plans ONE file instead of all of them. Partial by contract (Spark
  // keeps its own Limit above), so truncating the file list is the
  // whole optimization; applied only when every planned file's rows
  // are all live (no filters in play — a kept file might match
  // nothing; no outstanding deletes — dead rows would shrink a file's
  // contribution below its manifest count). ----

  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** Truncate a planned file list to the prefix covering `n` rows. */
  private def limitFiles(kept: Seq[SnapshotLog.FileEntry], n: Int)
      : Seq[SnapshotLog.FileEntry] = {
    var acc = 0L
    val b = Seq.newBuilder[SnapshotLog.FileEntry]
    val it = kept.iterator
    while (acc < n && it.hasNext) {
      val f = it.next()
      b += f
      acc += f.rows
    }
    b.result()
  }

  /** The V2 per-file batch scan ([[SnapshotBatchScan]] — the
    * runtime-filterable planning shape) serves every snapshot but one
    * carrying outstanding EQUALITY deletes (their sequence-rule
    * anti-join is not a per-file test), which the V1 join read serves.
    * The batch scan's parquet pushdown is row-group INEXACT, so every
    * unclaimed filter stays residual for Spark to re-apply above (the
    * V1 read self-applies its pushed set, so residual duplication in
    * the eq-outstanding fallback is merely a re-check, never wrong).
    */
  override def pushFilters(pushed: Array[sources.Filter])
      : Array[sources.Filter] = {
    // a filter on a coordinate column stays residual: the scan has no
    // stats for it
    val (onCoords, filters) = pushed.partition(
      _.references.exists(SnapshotBatchScan.CoordFields.contains))
    allPushed = filters.toSeq
    boxes = filters.toSeq.flatMap(SnapshotCatalog.boxOf)
    exact = filters.toSeq.filter(f => SnapshotCatalog.columnOf(f).isDefined)
    // ---- partition-exact claiming: a filter EVERY planned file
    // decides (all-rows-true or all-rows-false, from point stats +
    // per-file null counts — fileFilterState) is claimed EXACT even
    // though the parquet-level pushdown is row-group-inexact: build()
    // drops the all-false files and the all-true survivors need no row
    // re-check. Removing the residual Filter is what unlocks aggregate
    // pushdown over a FILTERED scan (`count(*) WHERE day = …` answers
    // from the manifest) and saves the per-row re-check on partition-
    // aligned predicates. Translatable filters only (the V1
    // eq-outstanding fallback self-applies its claimed set, so the
    // claim must be expressible there too).
    if (exact.isEmpty) return pushed
    val plan = resolvePlan()
    claimed =
      if (snap.eqOutstanding) Seq.empty
      else exact.filter(f => plan.kept.forall(file =>
        SnapshotCatalog.fileFilterState(file, snap.schema, snap.curIds, f)
          .isDefined))
    filters.filterNot(claimed.contains) ++ onCoords
  }

  override def pushedFilters(): Array[sources.Filter] = exact.toArray

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (c, r) = requiredSchema.fields.partition(f =>
      SnapshotBatchScan.CoordFields.contains(f.name))
    required = StructType(r)
    coords = c.map(_.name).toSeq
  }

  // ---- aggregate pushdown: an UNFILTERED, UNGROUPED
  // COUNT(*)/MIN/MAX answers from the manifest ALONE — the metadata
  // query every lakehouse dashboard runs (`SELECT count(*) FROM t`)
  // costs one manifest read and ZERO data files at any table size.
  // Complete pushdown only, and only when the answer is provably
  // exact: no pushed predicates (stat-band pruning is file-INEXACT, so
  // an aggregate over a filtered scan must run on real rows — CLAIMED
  // predicates excepted), no outstanding equality deletes (their
  // sequence-rule anti-join is not per-file), every kept file carrying
  // a round-trippable stat for each MIN/MAX column (an all-null file
  // records no stat — indistinguishable from stats-off, so refuse
  // rather than guess). Outstanding DELETE VECTORS are fine for the
  // COUNTs — manifest-recorded per-target kill counts subtract exactly
  // (COUNT(col) additionally needs each killed file proven null-free
  // or all-null) — while MIN/MAX refuse per killed file (the extremum
  // may be dead). Anything else returns false and Spark plans the
  // ordinary scan + aggregate. ----

  // one manifest resolution per Aggregation: Spark calls BOTH
  // pushAggregation and supportCompletePushDown with the same
  // instance — recomputing would double the O(#files) planning cost
  // of the very query the pushdown makes cheap
  private var aggTried
      : (org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
        Option[SnapshotAggScan]) = null

  private def tryAggCached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[SnapshotAggScan] = {
    val c = aggTried
    if (c != null && (c._1 eq agg)) return c._2
    val r = tryAgg(agg)
    aggTried = (agg, r)
    r
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryAggCached(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggScan = tryAggCached(agg)
    aggScan.isDefined
  }

  private def tryAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[SnapshotAggScan] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    // filters are admitted ONLY when every pushed one was CLAIMED
    // exact (file-decidable): the refined kept set is then exactly the
    // matching rows — whole files — and the manifest fold below is the
    // true filtered aggregate. Any unclaimed filter leaves a residual
    // Filter in the plan (Spark would not ask for aggregate pushdown),
    // but the refusal is kept explicit rather than assumed.
    if (!allPushed.forall(claimed.contains)) return None
    val plan0 = resolvePlan()
    // equality deletes refuse (their sequence-rule anti-join is not a
    // per-file count); DELETE VECTORS do not — each target's kill
    // count is manifest-recorded, so COUNT stays exact under MoR
    // (per-file rules below); MIN/MAX refuse per killed file (the
    // extremum may be dead).
    if (snap.eqOutstanding) return None
    val plan = if (claimed.isEmpty) plan0
      else plan0.copy(kept = refinedKept(plan0))
    def killOf(f: SnapshotLog.FileEntry): Long =
      plan.dvKills.getOrElse(f.path, 0L)

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    // ---- GROUP BY pushdown: admitted when every grouping expression
    // is a plain column on which EVERY kept file is POINT-banded
    // (min == max, invertible) — true by construction for fanout
    // layouts grouping on the routed column. Each group is then a set
    // of whole files, and per-group COUNT/MIN/MAX folds from the
    // manifest exactly as the global case does: one output row per
    // partition value, zero data files opened. Anything else refuses
    // and Spark plans the ordinary scan + aggregate. ----
    val groupCols: Seq[String] = {
      val cs = agg.groupByExpressions.toSeq.map(colOf)
      if (cs.exists(_.isEmpty)) return None
      cs.flatten
    }
    def pointOf(f: SnapshotLog.FileEntry, c: String): Option[Any] = {
      val dt = snap.schema(c).dataType
      SnapshotLog.physNameIn(f, c, snap.curIds).flatMap(f.stats.get)
        .collect { case (mn, mx) if mn == mx => mn }
        .flatMap(SnapshotLog.statValueOf(dt, _))
    }
    val groups: Seq[(Seq[Any], Seq[SnapshotLog.FileEntry])] =
      if (groupCols.isEmpty) Seq((Seq.empty, plan.kept))
      else {
        if (groupCols.exists(c => !snap.schema.fieldNames.contains(c)))
          return None
        // a point band proves nothing about NULLS in the grouping
        // column (min/max skip them): a file with rows at the point
        // value AND null-group rows would mis-attribute the nulls to
        // the point group and drop the NULL group entirely. Admit the
        // pushdown only when null-freedom is PROVEN — table-wide by
        // the list-level meta, or per kept file by the per-file null
        // counts (the proof that also holds under pruning).
        if (groupCols.exists(c =>
            !(plan.whole && snap.colMeta.get(c).exists(_._1 == 0L)) &&
            !(plan.kept.nonEmpty && plan.kept.forall(f =>
              SnapshotLog.fileNullCount(f, c, snap.curIds).contains(0L)))))
          return None
        val keyed = plan.kept.map { f =>
          val ks = groupCols.map(c => pointOf(f, c))
          if (ks.exists(_.isEmpty)) return None
          (ks.flatten, f)
        }
        keyed.groupBy(_._1).toSeq.map { case (k, fs) => (k, fs.map(_._2)) }
      }
    // min-of-file-mins / max-of-file-maxs under the column type's own
    // aggregate order; None = some file can't contribute (refuse)
    def minMax(files: Seq[SnapshotLog.FileEntry], c: String,
        wantMin: Boolean)
        : Option[(org.apache.spark.sql.types.DataType, Any)] = {
      if (!snap.schema.fieldNames.contains(c)) return None
      // a DV may have killed exactly the extremal row — file bands
      // cannot answer min/max over the survivors
      if (files.exists(killOf(_) > 0L)) return None
      val dt = snap.schema(c).dataType
      val vals = files.map { f =>
        SnapshotLog.physNameIn(f, c, snap.curIds) match {
          case None => Some(None) // column absent in file: all NULL, skips
          case Some(nm) => f.stats.get(nm) match {
            case Some((mn, mx)) =>
              SnapshotLog.statValueOf(dt, if (wantMin) mn else mx).map(Some(_))
            case None => None // no stat: unknown content, refuse
          }
        }
      }
      if (vals.exists(_.isEmpty)) return None
      val flat = vals.flatten.flatten
      val v =
        if (flat.isEmpty) null
        else flat.reduce((a, b) =>
          if ((SnapshotLog.statValueCompare(dt, a, b) <= 0) == wantMin) a
          else b)
      Some((dt, v))
    }
    // resolve each aggregate per group; the SCHEMA must agree across
    // groups (same expressions), so compute names/types from the first
    val perGroup: Seq[Option[Seq[(String, org.apache.spark.sql.types
        .DataType, Any)]]] = groups.map { case (_, files) =>
      val resolved = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count(*)", LongType: org.apache.spark
          .sql.types.DataType, java.lang.Long.valueOf(
          files.map(f => f.rows - killOf(f)).sum)))
        // COUNT(col) = live rows − live nulls. PER-FILE null counts
        // answer it for any file subset — grouped and filter-pruned
        // sets alike. Under DV kills a file contributes exactly when
        // the answer is PROVABLE: no kills (rows − nulls), null-free
        // (rows − kills), or all-null (0); a mixed-null killed file
        // refuses (the dead rows' null status is unrecorded). The
        // LIST-level fold remains the whole-table fallback for
        // pre-format manifests on clean tables.
        case c: org.apache.spark.sql.connector.expressions.aggregate.Count
            if !c.isDistinct =>
          colOf(c.column).flatMap { cn =>
            if (!snap.schema.fieldNames.contains(cn)) None
            else {
              val perFile: Seq[Option[Long]] = files.map { f =>
                SnapshotLog.fileNullCount(f, cn, snap.curIds).flatMap { nu =>
                  val k = killOf(f)
                  if (k == 0L) Some(f.rows - nu)
                  else if (nu == 0L) Some(f.rows - k)
                  else if (nu == f.rows) Some(0L)
                  else None
                }
              }
              val count: Option[Long] =
                if (perFile.forall(_.isDefined)) Some(perFile.flatten.sum)
                else if (plan.whole && groupCols.isEmpty &&
                    claimed.isEmpty && files.forall(killOf(_) == 0L))
                  snap.colMeta.get(cn).map(nu => files.map(_.rows).sum - nu._1)
                else None
              count.map(n => (s"count($cn)",
                LongType: org.apache.spark.sql.types.DataType,
                java.lang.Long.valueOf(n)))
            }
          }
        case m: Min => colOf(m.column).flatMap(c =>
          minMax(files, c, wantMin = true)
            .map { case (dt, v) => (s"min($c)", dt, v) })
        case m: Max => colOf(m.column).flatMap(c =>
          minMax(files, c, wantMin = false)
            .map { case (dt, v) => (s"max($c)", dt, v) })
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.flatten)
    }
    if (perGroup.exists(_.isEmpty) || perGroup.isEmpty) return None
    val aggFields = perGroup.head.get
      .map { case (n, dt, _) => StructField(n, dt) }
    // complete-pushdown output convention: grouping columns FIRST,
    // then the aggregate columns, one row per group
    val outSchema = StructType(
      groupCols.map(c => snap.schema(c)) ++ aggFields)
    val outRows = groups.zip(perGroup).map { case ((key, _), vals) =>
      org.apache.spark.sql.catalyst.InternalRow
        .fromSeq(key ++ vals.get.map(_._3))
    }.toArray
    Some(new SnapshotAggScan(snap, outSchema, outRows, plan.kept.size))
  }

  override def build(): Scan = {
    if (aggScan.isDefined) return aggScan.get
    // ONE file plan (shared with pushFilters' claim decision and the
    // aggregate pushdown) serves the batch scan and the V1 fallback
    val plan0 = resolvePlan()
    if (snap.eqOutstanding && pinned.isEmpty)
      return new SnapshotScan(plan0, required, exact)
    // claimed filters apply exactly at FILE granularity: the all-false
    // files drop here, the all-true survivors are the claim's contract
    val plan = if (claimed.isEmpty) plan0
      else plan0.copy(kept = refinedKept(plan0))
    val limited = limit match {
      case Some(n) if exact.isEmpty && boxes.isEmpty &&
          plan.dvByTarget.isEmpty =>
        plan.copy(kept = limitFiles(plan.kept, n))
      case _ => plan
    }
    new SnapshotBatchScan(required, limited, exact, coords)
  }
}

/** A completely-pushed aggregate over a snapshot-log table: the one
  * answer row, computed at PLAN time from the pinned manifest's file
  * metadata (row counts, min/max stat bands) — a [[org.apache.spark
  * .sql.connector.read.LocalScan]], so the physical plan is a local
  * table scan: zero data files opened, zero executor tasks launched.
  * Built only when exactness is provable (see the builder's tryAgg);
  * at 100 TB this turns `SELECT count(*), min(ts), max(ts) FROM t`
  * from a full-table scan into a kilobyte manifest read.
  */
class SnapshotAggScan(snap: SnapshotLog.Resolved,
    out: StructType,
    answer: Array[org.apache.spark.sql.catalyst.InternalRow],
    val filesAggregated: Int)
    extends org.apache.spark.sql.connector.read.LocalScan {

  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    answer

  override def readSchema(): StructType = out

  override def description(): String =
    s"SnapshotAggScan root=${snap.root} ${snap.pinLabel}" +
      s" files=$filesAggregated/${snap.totalFiles} (manifest-only)" +
      s" out=${out.fieldNames.mkString("[", ", ", "]")}"
}

/** The V1 fallback scan: reads exactly the builder's file plan —
  * `keptFiles`/`totalFiles` are what a spec (and `description()`)
  * asserts — from the same resolved snapshot it was planned on. Row
  * production goes through the V1 relation below.
  */
class SnapshotScan(plan: SnapshotLog.CatalogBatchPlan,
    required: StructType,
    exact: Seq[sources.Filter])
    extends V1Scan with SupportsReportStatistics with SnapshotScanLike {

  private val spark = SparkSession.active
  val root: String = plan.snap.root
  val keptFiles: Seq[SnapshotLog.FileEntry] = plan.kept
  val totalFiles: Int = plan.snap.totalFiles

  override def readSchema(): StructType = required

  override def description(): String =
    s"SnapshotScan root=$root ${plan.snap.pinLabel}" +
      s" files=${keptFiles.size}/$totalFiles" +
      s" pushed=${exact.mkString("[", ", ", "]")}"

  /** Manifest row counts — free statistics for the SQL planner's
    * broadcast decisions (pruned-file rows as the bound; byte size via
    * the required schema's default width).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = keptFiles.map(_.rows).sum
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, rows) *
        math.max(1, required.map(_.dataType.defaultSize).sum))
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
  }

  override def toBatch: Batch =
    throw new UnsupportedOperationException("V1 fallback scan")

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new SnapshotV1Relation(context, this).asInstanceOf[T]

  /** The MoR read of the pruned file set, filtered by the claimed-
    * exact predicates and projected to the required columns — built
    * lazily at execution so the relation plans nothing twice.
    */
  private[sources] def innerPlan(): DataFrame = {
    val base = SnapshotLog.dvRead(spark, plan.snap, keptFiles)
    val filtered = exact.flatMap(SnapshotCatalog.columnOf)
      .foldLeft(base)((d, c) => d.filter(c))
    filtered.select(required.fieldNames.map(col).toIndexedSeq: _*)
  }
}

/** The staged side of an atomic CTAS/RTAS: Spark writes the query
  * frame through this table's builder, which only BUFFERS it;
  * `commitStagedChanges` then publishes data + schema + declared spec
  * as one [[SnapshotLog.replaceTable]] commit. Abort publishes
  * nothing.
  */
private[sources] class StagedSnapshotTable(root: String,
    declaredSchema: StructType, spec: Seq[SnapshotLog.PartField],
    mode: String)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  @volatile private var buffered: Option[DataFrame] = None

  override def name(): String = s"snapshot-log `$root` (staged)"

  override def schema: StructType = declaredSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder =
        this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: sources.InsertableRelation =
            new sources.InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                buffered = Some(data)
              }
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    val df = buffered.getOrElse(throw new IllegalStateException(
      s"staged CTAS for $root committed before any write"))
    // re-check the mode's existence constraint at COMMIT time, not just
    // at stage time — a racing creator must fail this CTAS, not be
    // silently replaced by it
    val exists = SnapshotLog.currentId(df.sparkSession, root) > 0L
    require(mode != "create" || !exists,
      s"table appeared at $root while this CREATE ... AS SELECT staged")
    SnapshotLog.replaceTable(df.sparkSession, root, df, spec,
      orCreate = mode != "replace")
    ()
  }

  override def abortStagedChanges(): Unit = { buffered = None }
}

/** One METADATA table (`history`/`snapshots`/`files`) over a snapshot
  * log — answered from the manifest chain alone. `history` and
  * `snapshots` are one row per retained commit (id, parent, operation,
  * live row total, file count); `files` is the CURRENT snapshot's live
  * file inventory (path, rows). All driver-bounded metadata — zero
  * data files opened; the `files` listing is O(#files) rows, the same
  * class as Iceberg's files table.
  */
private[graft] class SnapshotMetaTable(val root: String, val kind: String)
    extends Table with SupportsRead {

  override def name(): String = s"snapshot-log `$root`.$kind"

  override def schema: StructType = kind match {
    case "files" => StructType.fromDDL(
      "path STRING, n_rows BIGINT, bytes BIGINT, sorted_by STRING")
    case "stats" => StructType.fromDDL(
      "col_name STRING, n_rows BIGINT, null_count BIGINT, ndv BIGINT, " +
        "min_val STRING, max_val STRING, histogram ARRAY<DOUBLE>")
    case "partitions" => StructType.fromDDL(
      "partition STRING, n_files BIGINT, n_rows BIGINT, bytes BIGINT")
    case "refs" => StructType.fromDDL(
      "name STRING, type STRING, snapshot_id BIGINT, commits BIGINT, " +
        "committed_at TIMESTAMP")
    case "changes" =>
      // the table's own columns plus the change tag — the exact frame
      // SnapshotLog.changes produces
      StructType(SnapshotLog.resolve(SparkSession.active, root).schema.fields :+
        org.apache.spark.sql.types.StructField("change",
          org.apache.spark.sql.types.StringType))
    case _ => StructType.fromDDL(
      "snapshot_id BIGINT, parent_id BIGINT, operation STRING, " +
        "n_rows BIGINT, n_files INT")
  }

  // the CHANGES table also admits `readStream.table("snap.t.changes")`
  // through analysis; graft.plans.SnapshotStreamTableRule then
  // substitutes the V1 changelog streaming source (mode=changelog) —
  // the live CDC feed through the same identifier the batch window
  // reads (its toMicroBatchStream is intentionally unreachable)
  override def capabilities(): util.Set[TableCapability] =
    if (kind == "changes")
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ)

  /** The changes window: reader options — `spark.read.option`, or in
    * pure SQL the table options clause
    * (`FROM snap.t.changes WITH ('fromId' = '3', 'toId' = '4')`) —
    * defaulting to the LAST transition (parent of the
    * current snapshot -> current). Timestamp twins `fromTs`/`toTs`
    * (epoch millis, or an ISO instant / UTC datetime string) resolve
    * through the snapshot log's commit times — the same
    * `snapshotAtTime` walk `TIMESTAMP AS OF` reads through — so a
    * consumer can ask for "changes since 09:00" without knowing
    * snapshot ids. An explicit id wins over its timestamp twin.
    */
  private def changesWindow(s: SparkSession,
      options: CaseInsensitiveStringMap): (Long, Long) = {
    def opt(key: String): Option[String] = Option(options.get(key))
    // bare digits auto-detect millis vs MICROS by magnitude: every
    // other timestamp surface in the format (stats, pushed bounds)
    // renders epoch micros, so a caller pasting one of those must not
    // silently resolve a snapshot ~50,000 years out. 10^14 ms is year
    // ~5138 — unambiguous as a millis/micros divider. ISO dates
    // ('2026-08-16') read as UTC midnight; any parse failure names the
    // option instead of escaping as a raw DateTimeParseException.
    def tsMillis(key: String, v: String): Long =
      if (v.matches("-?[0-9]+")) {
        val n = v.toLong
        if (math.abs(n) >= 100000000000000L) Math.floorDiv(n, 1000L) else n
      } else try java.time.Instant.parse(v).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(v.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              try java.time.LocalDate.parse(v)
                .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
              catch {
                case e: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    s"changes option $key: cannot parse '$v' — use epoch " +
                      "millis/micros, an ISO instant, a UTC datetime, or " +
                      "an ISO date", e)
              }
          }
      }
    def idOf(idKey: String, tsKey: String): Option[Long] =
      opt(idKey).map(_.toLong).orElse(
        opt(tsKey).map(v =>
          SnapshotLog.snapshotAtTime(s, root, tsMillis(tsKey, v))))
    val to = idOf("toId", "toTs").getOrElse(SnapshotLog.currentId(s, root))
    val from = idOf("fromId", "fromTs").getOrElse(
      SnapshotLog.parentOf(s, root, to))
    (from, to)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = schema
      override def description(): String = name()
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = SnapshotMetaTable.this.schema
          override def buildScan(): RDD[Row] = {
            val s = context.sparkSession
            val df = kind match {
              case "files" =>
                // sorted_by: the file's physical-sort stamp (NULL =
                // unsorted/legacy) — the layout-audit twin of Iceberg's
                // files.sort_order_id; a user can see exactly which
                // files still block the reported-ordering gate
                val rows = SnapshotLog.resolve(s, root).files
                  .map(f => Row(f.path, f.rows, f.bytes,
                    if (f.sortedBy.isEmpty) null else f.sortedBy))
                s.createDataFrame(s.sparkContext.parallelize(rows, 1),
                  SnapshotMetaTable.this.schema)
              case "changes" =>
                // row-level CDC through SQL: the library changelog
                // (file diff + DV/eq-delete resolution), distributed —
                // only this one of the meta kinds reads data files
                val (from, to) = changesWindow(s, options)
                SnapshotLog.changes(s, root, from, to)
              case "stats" =>
                // column statistics from manifest metadata alone:
                // exact live counts/nulls, KMV NDV, stat-band bounds
                SnapshotLog.statsTable(s, root)
              case "partitions" =>
                // per-partition-tuple live rows/files/bytes from the
                // manifest's transform point bands (Iceberg parity)
                SnapshotLog.partitionsTable(s, root)
              case "refs" =>
                // named refs: tags + branches with pinned/fork ids,
                // staged commit counts, head commit times — the
                // write-audit-publish audit door
                SnapshotLog.refsTable(s, root)
              case _ =>
                val rows = SnapshotLog.history(s, root).map(h =>
                  Row(h.id, h.parent, h.operation, h.rows, h.files.size))
                s.createDataFrame(s.sparkContext.parallelize(rows, 1),
                  SnapshotMetaTable.this.schema)
            }
            df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
          }
          override def needConversion: Boolean = false
        }.asInstanceOf[T]
    }
}

/** V1 bridge: Spark's `DataSourceV2Strategy` plans a [[V1Scan]] as a
  * row-source scan over this relation. `needConversion = false` +
  * `queryExecution.toRdd` hands over the inner plan's InternalRows
  * directly — the parquet scan underneath stays vectorized and
  * whole-stage-codegen'd; no per-row `Row` boxing is ever paid.
  */
private[sources] class SnapshotV1Relation(ctx: SQLContext,
    scan: SnapshotScan) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = scan.readSchema()

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] =
    scan.innerPlan().queryExecution.toRdd.asInstanceOf[RDD[Row]]

  override def toString: String = scan.description()
}
