package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SnapshotLog

/** SQL stored procedures for table MAINTENANCE — `CALL
  * snap.system.<verb>(…)`, the Iceberg procedure surface over the
  * library's maintenance API, so every operational verb a warehouse
  * scheduler runs (rollback, retention, compaction, delete folding,
  * refs, transaction recovery) is SQL-addressable without a Scala
  * entry point:
  *
  * {{{
  * CALL snap.system.rollback('/w/orders', 3)
  * CALL snap.system.expire_snapshots('/w/orders', 10)
  * CALL snap.system.optimize('/w/orders', 'o_orderkey', 8)
  * CALL snap.system.rewrite_deletes('/w/orders')
  * CALL snap.system.fast_forward('/w/orders', 'wip')
  * }}}
  *
  * Each call executes the SAME library commit the API executes (one
  * atomic manifest publish; results are the committed ids/counts as a
  * one-row result set), so the SQL door can never drift from the
  * programmatic one. Spark 4's ProcedureCatalog binding handles
  * argument coercion and named/default arguments.
  */
private[sources] object SnapshotProcedures {

  /** One procedure: IN parameters (name, type, optional default SQL),
    * a one-row result schema, and the library call producing that
    * row's values from the coerced argument row.
    */
  private final case class Spec(name: String, description: String,
      params: Seq[(String, DataType, Option[String])],
      result: StructType,
      exec: (SparkSession, String => String, InternalRow) => Seq[Any])

  private def str(in: InternalRow, i: Int): String =
    in.getUTF8String(i).toString

  private val specs: Seq[Spec] = Seq(
    Spec("rollback",
      "make an earlier snapshot current again as a new metadata-only commit",
      Seq(("table", StringType, None), ("snapshot_id", LongType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.rollback(s, r(str(in, 0)), in.getLong(1)))),
    Spec("expire_snapshots",
      "reclaim history older than the newest keep_last snapshots (tags pin)",
      Seq(("table", StringType, None), ("keep_last", IntegerType, None)),
      StructType.fromDDL("expired_manifests INT, reclaimed_files INT"),
      (s, r, in) => {
        val (m, f) = SnapshotLog.expire(s, r(str(in, 0)), in.getInt(1))
        Seq(m, f)
      }),
    Spec("vacuum_orphans",
      "delete unreferenced data/list files older than grace_ms",
      Seq(("table", StringType, None),
        ("grace_ms", LongType, Some("3600000"))),
      StructType.fromDDL("reclaimed INT"),
      (s, r, in) => Seq(SnapshotLog.vacuumOrphans(s, r(str(in, 0)),
        in.getLong(1)))),
    Spec("optimize",
      "rewrite the live content into num_files range-clustered files",
      Seq(("table", StringType, None), ("cluster_by", StringType, None),
        ("num_files", IntegerType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.optimize(s, r(str(in, 0)), str(in, 1),
        in.getInt(2)))),
    Spec("optimize_zorder",
      "rewrite into num_files Morton-interleaved files over two columns",
      Seq(("table", StringType, None), ("col_a", StringType, None),
        ("col_b", StringType, None), ("num_files", IntegerType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.optimizeZOrder(s, r(str(in, 0)),
        str(in, 1), str(in, 2), in.getInt(3)))),
    Spec("optimize_bucketed",
      "rewrite into a hash-bucket layout; key reads prune to O(buckets)",
      Seq(("table", StringType, None), ("bucket_by", StringType, None),
        ("num_buckets", IntegerType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.optimizeBucketed(s, r(str(in, 0)),
        str(in, 1), in.getInt(2)))),
    Spec("set_partition_spec",
      "declare or change the hidden partition spec ('' clears): " +
        "future writes route by it, existing files keep pruning under " +
        "the stats they recorded (Iceberg spec evolution, no rewrite)",
      Seq(("table", StringType, None), ("spec", StringType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.setPartitionSpec(s, r(str(in, 0)),
        SnapshotCatalog.parsePartSpecProp(str(in, 1))))),
    Spec("optimize_sorted",
      "rewrite into the declared write sort order: stamped, clustered " +
        "files (fanout point bands under a spec) — scans then report " +
        "ordering and SMJ plans sort-free",
      Seq(("table", StringType, None),
        ("num_files", IntegerType, Some("8"))),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.optimizeSorted(s, r(str(in, 0)),
        in.getInt(1)))),
    Spec("optimize_partitioned",
      "rewrite into the declared spec's fanout layout: one partition " +
        "value per file (point bands; storage-partitioned joins)",
      Seq(("table", StringType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.optimizePartitioned(s, r(str(in, 0))))),
    Spec("rewrite_deletes",
      "fold outstanding equality deletes to vectors, then vectors into files",
      Seq(("table", StringType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => {
        val root = r(str(in, 0))
        SnapshotLog.rewriteEqualityDeletes(s, root)
        Seq(SnapshotLog.rewriteDeletes(s, root))
      }),
    Spec("create_tag",
      "pin a snapshot under a name (0 = current head); tags protect from expire",
      Seq(("table", StringType, None), ("tag", StringType, None),
        ("snapshot_id", LongType, Some("0"))),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.tag(s, r(str(in, 0)), str(in, 1),
        in.getLong(2)))),
    Spec("drop_tag", "remove a tag; retention protection is reversible",
      Seq(("table", StringType, None), ("tag", StringType, None)),
      StructType.fromDDL("existed BOOLEAN"),
      (s, r, in) => Seq(SnapshotLog.dropTag(s, r(str(in, 0)), str(in, 1)))),
    Spec("create_branch",
      "fork a writable branch at the current head (or a pinned id)",
      Seq(("table", StringType, None), ("branch", StringType, None),
        ("snapshot_id", LongType, Some("0"))),
      StructType.fromDDL("fork_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.createBranch(s, r(str(in, 0)),
        str(in, 1), in.getLong(2)))),
    Spec("fast_forward",
      "publish a branch head onto main atomically (fails on divergence)",
      Seq(("table", StringType, None), ("branch", StringType, None)),
      StructType.fromDDL("snapshot_id BIGINT"),
      (s, r, in) => Seq(SnapshotLog.fastForward(s, r(str(in, 0)), str(in, 1)))),
    Spec("recover_txn",
      "resolve a crashed multi-log transaction: roll forward or abort+clean",
      Seq(("txn_dir", StringType, None)),
      StructType.fromDDL("committed BOOLEAN"),
      (s, _, in) => Seq(SnapshotLog.recoverTxn(s, str(in, 0)))),
    Spec("begin_txn",
      "start staging: INSERTs to snapshot tables buffer until commit_txn",
      Seq(("txn_dir", StringType, None)),
      StructType.fromDDL("started BOOLEAN"),
      (s, _, in) => { SqlTxn.begin(s, str(in, 0)); Seq(true) }),
    Spec("commit_txn",
      "land every staged INSERT as ONE atomic multi-table transaction",
      Seq.empty,
      StructType.fromDDL("committed_tables INT, first_snapshot_id BIGINT"),
      (s, _, _) => {
        val ids = SqlTxn.commit(s)
        // box explicitly: Seq(int, long) would numerically WIDEN the
        // Int to Long and break the INT result column
        Seq(Int.box(ids.size), Long.box(ids.headOption.getOrElse(0L)))
      }),
    Spec("abort_txn",
      "discard every staged INSERT of the active transaction",
      Seq.empty,
      StructType.fromDDL("discarded INT"),
      (s, _, _) => Seq(SqlTxn.abort(s))))

  def names: Seq[String] = specs.map(_.name)

  def load(name: String, resolve: String => String): Option[UnboundProcedure] =
    specs.find(_.name == name).map(sp => new UnboundProcedure {
      override def name(): String = sp.name
      override def description(): String = sp.description
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = sp.name
          override def description(): String = sp.description
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] =
            sp.params.map { case (n, dt, dflt) =>
              val b = ProcedureParameter.in(n, dt)
              dflt.foreach(b.defaultValue)
              b.build()
            }.toArray
          override def call(input: InternalRow): util.Iterator[Scan] = {
            val out = sp.exec(SparkSession.active, resolve, input)
              .map {
                case s: String => UTF8String.fromString(s)
                case other => other
              }
            val row = InternalRow.fromSeq(out)
            util.Collections.singletonList[Scan](new LocalScan {
              override def rows(): Array[InternalRow] = Array(row)
              override def readSchema(): StructType = sp.result
            }).iterator()
          }
        }
    })
}

/** Session-scoped SQL transaction staging — the state behind `CALL
  * snap.system.begin_txn / commit_txn / abort_txn`: between begin and
  * commit, every `INSERT INTO` a snapshot table takes
  * ([[SnapshotWriteBuilder]] consults [[stage]]) BUFFERS its frame
  * instead of committing; commit_txn lands the whole buffer through
  * the library's [[graft.operators.SnapshotLog.commitTransaction]] —
  * one two-phase, all-or-nothing, crash-recoverable multi-table
  * commit. Frames are LAZY until commit: their sources (temp views,
  * files) must stay valid until commit_txn runs. Two appends to the
  * same table union; INSERT OVERWRITE marks the table's transactional
  * overwrite form. Keyed per SparkSession, so concurrent sessions
  * stage independently. Lifetime contract: an UNDECIDED transaction
  * pins its session and staged plans until commit_txn/abort_txn runs
  * — a service wrapping per-request sessions must abort on its error
  * path (the same discipline an open JDBC transaction demands).
  */
private[sources] object SqlTxn {

  private final case class Staged(txnDir: String,
      var frames: Vector[(String, org.apache.spark.sql.DataFrame)],
      var overwrites: Set[String])

  private val active =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Staged]()

  def isActive(s: SparkSession): Boolean = active.containsKey(s)

  def begin(s: SparkSession, txnDir: String): Unit = {
    val prev = active.putIfAbsent(s, Staged(txnDir, Vector.empty, Set.empty))
    require(prev == null,
      s"a transaction is already active (${prev.txnDir}); " +
        "commit_txn or abort_txn first")
  }

  /** Buffer an insert if a transaction is active; false = no txn, the
    * caller commits normally.
    */
  def stage(s: SparkSession, root: String,
      df: org.apache.spark.sql.DataFrame, overwrite: Boolean): Boolean = {
    val st = active.get(s)
    if (st == null) return false
    st.synchronized {
      val existing = st.frames.indexWhere(_._1 == root)
      if (overwrite) {
        require(existing < 0 || st.overwrites.contains(root),
          s"cannot OVERWRITE $root after staging an append to it in the " +
            "same transaction")
        st.frames = st.frames.filterNot(_._1 == root) :+ (root -> df)
        st.overwrites += root
      } else if (existing >= 0) {
        require(!st.overwrites.contains(root),
          s"cannot append to $root after staging an overwrite of it in " +
            "the same transaction")
        val merged = st.frames(existing)._2.unionByName(df)
        st.frames = st.frames.updated(existing, root -> merged)
      } else st.frames :+= (root -> df)
    }
    true
  }

  def commit(s: SparkSession): Seq[Long] = {
    val st = active.remove(s)
    require(st != null, "no active transaction; CALL begin_txn first")
    require(st.frames.nonEmpty, "transaction staged nothing to commit")
    graft.operators.SnapshotLog.commitTransaction(
      s, st.frames, st.txnDir, overwriteRoots = st.overwrites)
  }

  def abort(s: SparkSession): Int = {
    val st = active.remove(s)
    require(st != null, "no active transaction; CALL begin_txn first")
    st.frames.size
  }
}
