package graft.operators

import java.nio.file.Paths

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Q, Tables, TempDirs}
import SnapshotLog._

/** Registry rows over the [[SnapshotLog]] table format (tt1–tt66): time
  * travel, copy-on-write and merge-on-read DML, maintenance, schema and
  * spec evolution, and every SQL door of
  * [[graft.sources.SnapshotCatalog]]. Each row reads a log that one
  * [[Fixture]] stages: a deterministic commit sequence over the SF's
  * `orders` or `events` table, written once per source dir and reused by
  * reruns, so the timed query measures the read or the SQL door under
  * test, not the staging writes. Every oracle recomputes its answer from
  * the raw table, never from the log.
  *
  * The table format stays in [[SnapshotLog]]; this object only uses it,
  * as Iceberg keeps its spec apart from the engines that read it.
  */
object SnapshotLogQueries {

  // ---- staged fixtures -------------------------------------------------

  /** Keys the fixtures below have taken. */
  private val claimed = scala.collection.mutable.Set.empty[String]

  /** One staged scenario: owns its [[graft.TempDirs.staged]] key and
    * the layout of the logs under it (`layout` maps the staged dir to
    * what the rows read). `write` runs once per source dir, behind the
    * staging marker; every later call returns the same roots. Building
    * the object rejects a key another fixture already took: two
    * fixtures sharing a key would read whichever one staged first.
    */
  private final class Fixture[R](key: String, layout: java.nio.file.Path => R,
      write: (SparkSession, String, R) => Unit)
      extends ((SparkSession, String) => R) {
    require(claimed.add(key), s"fixture key $key is taken twice")
    def apply(s: SparkSession, dir: String): R =
      layout(TempDirs.staged(s"${key}_${TempDirs.dirKey(dir)}") { p =>
        write(s, dir, layout(p))
      })
  }

  /** A fixture staging one log, `<staged dir>/log`. */
  private def log(key: String)(
      write: (SparkSession, String, String) => Unit): Fixture[String] =
    new Fixture(key, _.resolve("log").toString, write)

  /** A fixture staging two logs side by side (`fact`/`dim` unless named). */
  private def pair(key: String, left: String = "fact", right: String = "dim")(
      write: (SparkSession, String, (String, String)) => Unit)
      : Fixture[(String, String)] =
    new Fixture(key,
      p => (p.resolve(left).toString, p.resolve(right).toString), write)

  /** Register the snapshot catalog as `snapcat`. Each SQL row and
    * fixture calls it itself: a row must run on any session that calls
    * it, not only on one a builder prepared.
    */
  private def snapcat(s: SparkSession): Unit =
    s.conf.set("spark.sql.catalog.snapcat", "graft.sources.SnapshotCatalog")

  /** Run `body` with a session conf pinned, restoring the CALLER's own
    * prior value after — set-or-unset, never a blanket unset (a
    * user-enabled flag must survive a fixture or query that borrows
    * it). The one restore discipline every conf-borrowing site shares.
    */
  private def withSessionConf[T](s: SparkSession, key: String,
      value: String)(body: => T): T = {
    val prior = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `orders` as most fixtures log it: key, customer, status. */
  private def orderRows(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")

  /** Keys ≡ `r` (mod `m`): the batch split every fixture uses. */
  private def keyMod(m: Int, r: Int): Column =
    pmod(col("o_orderkey"), lit(m)) === r

  // ---- shared scenario steps -------------------------------------------

  /** Three appends (batch i = keys ≡ i (mod 3)), then v4: a
    * copy-on-write delete of the 'F' rows (tt2/tt3 read both sides).
    */
  private def threeBatchesThenDeleteF(s: SparkSession, dir: String,
      root: String): Unit = {
    val orders = orderRows(s, dir)
    (0 to 2).foreach(b => append(s, root, orders.filter(keyMod(3, b))))
    deleteWhere(s, root, col("o_orderstatus") === "F")
  }

  /** Two appends, even then odd keys, each round-robin into 4 files. */
  private def appendHalves(s: SparkSession, dir: String, root: String): Unit = {
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(2, 0)).repartition(4))
    append(s, root, orders.filter(keyMod(2, 1)).repartition(4))
  }

  /** [[appendHalves]], then TWO overlapping positional delete-vector
    * commits: the 'F' rows, then every key ≡ 3 (mod 10).
    */
  private def halvesThenTwoMorDeletes(s: SparkSession, dir: String,
      root: String): Unit = {
    appendHalves(s, dir, root)
    deleteWhereMoR(s, root, col("o_orderstatus") === "F")
    deleteWhereMoR(s, root, keyMod(10, 3))
  }

  /** tt5's upsert: one full append (4 files), then the merge source it
    * returns — every key ≡ 0 (mod 10) updated to status 'X', plus a
    * shifted copy of every key ≡ 1 (mod 10) inserted as 'N'. One body
    * for all four merge doors, so they can only differ in the commit.
    */
  private def appendThenUpsertSource(s: SparkSession, dir: String,
      root: String): DataFrame = {
    val orders = orderRows(s, dir)
    append(s, root, orders.repartition(4))
    orders.filter(keyMod(10, 0))
      .withColumn("o_orderstatus", lit("X"))
      .unionByName(
        orders.filter(keyMod(10, 1))
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderstatus", lit("N")))
  }

  /** tt28's branch scenario up to the branch writes: main holds batch 0
    * (keys ≡ 0 mod 3). Returns main's row count and batches 1 and 2.
    */
  private def mainThenBranchBatches(s: SparkSession, dir: String,
      root: String): (Long, DataFrame, DataFrame) = {
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(3, 0)))
    (read(s, root).count(), orders.filter(keyMod(3, 1)),
      orders.filter(keyMod(3, 2)))
  }

  /** tt29's two-log seed: log `a` holds keys ≡ 0 (mod 4), log `b` keys
    * ≡ 1. Returns the two halves one transaction then lands (≡ 2 into
    * `a`, ≡ 3 into `b`).
    */
  private def seedTxnLogs(s: SparkSession, dir: String, a: String,
      b: String): (DataFrame, DataFrame) = {
    val orders = orderRows(s, dir)
    append(s, a, orders.filter(keyMod(4, 0)))
    append(s, b, orders.filter(keyMod(4, 1)))
    (orders.filter(keyMod(4, 2)), orders.filter(keyMod(4, 3)))
  }

  /** The transaction coordinator dir of a [[pair]] fixture: a sibling of
    * its logs.
    */
  private def txnDir(a: String): String =
    Paths.get(a).resolveSibling("tx").toString

  // ---- fixtures --------------------------------------------------------

  /** Staged four-snapshot log over `orders` (append batch i =
    * o_orderkey % 3 == i for i in 0..2, then a copy-on-write delete of
    * the 'F' rows). Deterministic per source dir, so reruns reuse it and
    * the timed queries measure READS, not the staging writes.
    */
  private val ordersLog = log("ttlog")(threeBatchesThenDeleteF)

  /** Staged two-snapshot merge log over `orders`: one full append, then
    * one CoW MERGE whose source updates every key ≡ 0 (mod 10) to
    * status 'X' and inserts a shifted copy of every key ≡ 1 (mod 10)
    * as status 'N' — exercising both WHEN MATCHED and WHEN NOT MATCHED
    * arms in a single commit. Separate from [[ordersLog]] so tt1–tt4's
    * shared fixture stays immutable.
    */
  private val mergeLog = log("ttmerge") { (s, dir, root) =>
    mergeInto(s, root, appendThenUpsertSource(s, dir, root), Seq("o_orderkey"))
  }

  /** Staged range-clustered log: one append routed through
    * `repartitionByRange(8, o_orderkey)`, so each data file covers a
    * disjoint key band and the manifest's per-file min/max make narrow
    * reads prune to O(band) files.
    */
  private val rangeLog = log("ttrange") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    append(s, root, orders.repartitionByRange(8, col("o_orderkey")))
  }

  /** Staged Z-ORDER log: one round-robin append (every file spans both
    * full column ranges — the layout where neither axis prunes), then
    * one OPTIMIZE into a 16-file Morton layout over (o_custkey,
    * o_totalprice), so a two-column box read plans O(box) files.
    */
  private val zorderLog = log("ttz") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    append(s, root, orders.repartition(4))
    optimizeZOrder(s, root, "o_custkey", "o_totalprice", numFiles = 16)
  }

  /** Staged optimize log: two interleaved appends (round-robin
    * repartition, so every file spans nearly the full key range), then
    * one OPTIMIZE clustering into 8 range-disjoint files.
    */
  private val optimizeLog = log("ttopt") { (s, dir, root) =>
    appendHalves(s, dir, root)
    optimize(s, root, clusterBy = "o_orderkey", numFiles = 8)
  }

  /** Staged bloom-indexed log: one append routed through round-robin
    * `repartition(8)`, so every data file spans nearly the FULL
    * o_orderkey range — the layout where min/max stats prune nothing
    * and per-file blooms are the only skip index that works.
    */
  private val bloomLog = log("ttbloom") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    appendBloomed(s, root, orders.repartition(8),
      BloomSpec(Seq("o_orderkey"), expectedPerFile = 25000L, fpp = 0.0001))
  }

  /** Staged maintenance log: [[ordersLog]]'s four snapshots, then the
    * periodic maintenance pair — expire all but the last two snapshots
    * and vacuum orphaned dirs — so the registry row reads a table whose
    * history was actually truncated and debris actually reclaimed. Its
    * own fixture (never the shared [[ordersLog]]: tt1–tt4 time-travel
    * into snapshots this one deletes).
    */
  private val maintLog = log("ttmaint") { (s, dir, root) =>
    threeBatchesThenDeleteF(s, dir, root)
    val (manifests, _) = expire(s, root, keepLast = 2)
    require(manifests == 2, s"expected 2 expired manifests, got $manifests")
    vacuumOrphans(s, root, graceMs = 0L)
  }

  /** Staged bin-pack log: one large append (single file), then eight
    * tiny appends (streaming's small-file debris shape), then the
    * targeted compaction — small files pack, the large file must ride
    * untouched.
    */
  private val binpackLog = log("ttbinpack") { (s, dir, root) =>
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(2, 0)).coalesce(1))
    (0 to 7).foreach { b =>
      append(s, root, orders.filter(
        keyMod(2, 1) && keyMod(16, 2 * b + 1)).coalesce(1))
    }
    // threshold between the tiny shard size and the big file's:
    // ~1/16 of rows per small file vs 1/2 — 1/4 of the large file's
    // bytes cleanly separates them at every SF
    val big = snapshot(s, root, 1L).files.head
    val thresh = fsOf(s, root).getFileStatus(
      new Path(s"$root/${big.path}")).getLen / 4
    optimizeBinPack(s, root, smallBytes = thresh)
  }

  /** Staged rollback log: three appends, a CoW delete of the 'F' rows
    * (the "incident"), then ROLLBACK to the pre-delete snapshot — the
    * current read must be the full table again, via carried file
    * lists, zero data movement.
    */
  private val rollbackLog = log("ttroll") { (s, dir, root) =>
    threeBatchesThenDeleteF(s, dir, root)
    rollback(s, root, toId = 3L)
  }

  /** Staged write-audit-publish log: even keys appended normally, odd
    * keys STAGED (invisible), then published after the audit window —
    * current must read the union, via the spliced staged list.
    */
  private val wapLog = log("ttwap") { (s, dir, root) =>
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(2, 0)))
    val key = stageAppend(s, root, orders.filter(keyMod(2, 1)))
    publishStaged(s, root, key)
  }

  /** Staged widen-evolution log: even keys appended with a NARROW
    * (int) customer key, a metadata-only widen to long, odd keys
    * appended wide — the read must upcast the narrow era at the scan.
    */
  private val widenLog = log("ttwiden") { (s, dir, root) =>
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(2, 0))
      .withColumn("o_custkey", col("o_custkey").cast("int")))
    widenColumn(s, root, "o_custkey", org.apache.spark.sql.types.LongType)
    append(s, root, orders.filter(keyMod(2, 1)))
  }

  /** Staged rename-evolution log: even keys appended under the
    * original column name, a metadata-only RENAME, odd keys appended
    * under the new name, then a CoW delete filtering on the renamed
    * column — so the final read must stitch files from BOTH naming
    * eras by field id and the delete's predicate must reach pre-rename
    * files correctly.
    */
  private val renameLog = log("ttrename") { (s, dir, root) =>
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(2, 0)))
    renameColumn(s, root, "o_orderstatus", "status")
    append(s, root, orders.filter(keyMod(2, 1))
      .withColumnRenamed("o_orderstatus", "status"))
    deleteWhere(s, root, col("status") === "F")
  }

  /** Staged merge-on-read log: two appends (even/odd key halves), then
    * TWO overlapping positional delete-vector commits — the 'F' rows,
    * then every key ≡ 3 (mod 10), some of which were already dead.
    * Zero data files rewrite; readers must apply both vectors and the
    * accounting must not double-count the overlap.
    */
  private val morLog = log("ttmor")(halvesThenTwoMorDeletes)

  /** [[morLog]]'s exact commits with PINNED, strictly-increasing
    * manifest mtimes (one minute apart) — the fixture for
    * timestamp-window CDC, where commit-time resolution must be exact
    * regardless of how fast the staging committed.
    */
  private val morTsLog = log("ttmort") { (s, dir, root) =>
    halvesThenTwoMorDeletes(s, dir, root)
    val f = fsOf(s, root)
    val base = f.getFileStatus(manifestPath(root, 1L)).getModificationTime
    (1L to 4L).foreach(i =>
      f.setTimes(manifestPath(root, i), base + (i - 1L) * 60000L, -1L))
  }

  /** A snapshot's commit time (manifest mtime, epoch millis) — what
    * the timestamp-window CDC fixture hands to `fromTs`/`toTs`.
    */
  private[graft] def commitTimeOf(spark: SparkSession, root: String,
      id: Long): Long =
    fsOf(spark, root).getFileStatus(manifestPath(root, id))
      .getModificationTime

  /** Staged MoR-compaction log: [[morLog]]'s shape, then
    * [[SnapshotLog.rewriteDeletes]] folds the vectors into data files,
    * then a CoW delete of the 'O' rows — legal only BECAUSE the fold
    * dropped the vectors (partial rewrites refuse while they're
    * outstanding).
    */
  private val morCompactLog = log("ttmorc") { (s, dir, root) =>
    halvesThenTwoMorDeletes(s, dir, root)
    rewriteDeletes(s, root)
    deleteWhere(s, root, col("o_orderstatus") === "O")
  }

  /** Staged MoR-merge log: [[mergeLog]]'s exact scenario (update every
    * key ≡ 0 (mod 10) to 'X', insert shifted copies of keys ≡ 1) but
    * committed through [[SnapshotLog.mergeIntoMoR]] — matched rows die
    * via a delete vector, the source appends, no pre-existing file
    * rewrites. Shares tt5's oracle VERBATIM: the two merge
    * implementations must be observationally identical.
    */
  private val morMergeLog = log("ttmorm") { (s, dir, root) =>
    mergeIntoMoR(s, root, appendThenUpsertSource(s, dir, root),
      Seq("o_orderkey"))
  }

  /** Staged SQL-MERGE log: [[mergeLog]]'s exact scenario once more,
    * but committed as PURE SQL TEXT — `MERGE INTO snap.t USING src …`
    * resolved by graft.sources.SnapshotCatalog and rewritten by
    * graft.plans.SnapshotDmlRule into the same MoR commit protocol
    * tt21 exercises through the library API. Shares tt5's oracle
    * VERBATIM: the FOURTH merge door must be observationally
    * identical to the CoW, MoR-positional, and equality ones.
    */
  private val sqlMergeLog = log("ttsqlm") { (s, dir, root) =>
    appendThenUpsertSource(s, dir, root).createOrReplaceTempView("tt30_src")
    snapcat(s)
    s.sql(
      s"""MERGE INTO snapcat.`$root` t USING tt30_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  /** Staged SQL-CALL log: tt15's exact rollback scenario, but the
    * rollback runs as `CALL snapcat.system.rollback(…)` — the SQL
    * procedure door executing the same metadata-only commit.
    */
  private val sqlCallLog = log("ttcall") { (s, dir, root) =>
    threeBatchesThenDeleteF(s, dir, root)
    snapcat(s)
    s.sql(s"CALL snapcat.system.rollback('$root', 3)")
  }

  /** Staged DPP log: orders range-clustered on `o_orderkey` into 8
    * banded files — the fact side of tt37's runtime-pruned star join.
    * The explicit partition count survives AQE coalescing, so each
    * file carries a disjoint key band for the runtime filter to prune
    * against.
    */
  private val dppLog = log("ttdpp") { (s, dir, root) =>
    append(s, root, orderRows(s, dir).repartitionByRange(8, col("o_orderkey")))
  }

  /** Staged CO-BUCKETED pair for the storage-partitioned join: two
    * tables declaring the same `bucket(8, key)` spec, fanout-written so
    * every data file covers exactly one bucket — the layout under
    * which both scans report `KeyGroupedPartitioning` and the join
    * plans with zero Exchange on either side.
    */
  private val spjLogs = pair("ttspj") { case (s, dir, (fact, dim)) =>
    val orders = Tables(s, dir, "orders")
    withSessionConf(s, "spark.graft.write.fanout", "true") {
      createTable(s, fact,
        StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT"),
        Seq(PartField("bucket", "o_orderkey", 8)))
      append(s, fact, orders.select("o_orderkey", "o_custkey"))
      createTable(s, dim,
        StructType.fromDDL("o_orderkey BIGINT, o_orderpriority STRING"),
        Seq(PartField("bucket", "o_orderkey", 8)))
      append(s, dim, orders.select("o_orderkey", "o_orderpriority"))
    }
  }

  /** tt63's staged table: bucket(8, o_custkey) spec + declared
    * `o_orderkey` sort order, loaded by ONE SQL INSERT that rides the
    * DSv2 batch write — Spark plans the AQE rebalance on the bucket
    * transform and the in-task sort (RequiresDistributionAndOrdering),
    * executors write the parquet files directly, and the manifest
    * commit stamps bands + sorted marks. The row's oracle proves the
    * distributed write lost nothing.
    */
  private val sqlWriteDistLog = log("ttwdist") { (s, dir, root) =>
    createTable(s, root, StructType.fromDDL(
      "o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT"),
      Seq(PartField("bucket", "o_custkey", 8)))
    setSortOrder(s, root, Seq(SortField("o_orderkey")))
    snapcat(s)
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("tt63_src")
    s.sql(s"INSERT INTO snapcat.`$root` " +
      "SELECT o_orderkey, o_custkey, cents FROM tt63_src")
  }

  /** tt64's staged pair: co-bucketed fanout tables (one file per
    * bucket) BOTH declared sorted on the join key — the layout under
    * which the scans report KeyGroupedPartitioning AND per-partition
    * ordering, so the join plans with zero Exchange and zero Sort
    * (SnapshotSortOrderSpec pins that plan).
    */
  private val sortedSpjLogs = pair("ttsspj") { case (s, dir, (fact, dim)) =>
    val orders = Tables(s, dir, "orders")
    createTable(s, fact,
      StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT"),
      Seq(PartField("bucket", "o_orderkey", 8)))
    setSortOrder(s, fact, Seq(SortField("o_orderkey")))
    createTable(s, dim,
      StructType.fromDDL("o_orderkey BIGINT, o_orderpriority STRING"),
      Seq(PartField("bucket", "o_orderkey", 8)))
    setSortOrder(s, dim, Seq(SortField("o_orderkey")))
    withSessionConf(s, "spark.graft.write.fanout", "true") {
      append(s, fact, orders.select("o_orderkey", "o_custkey"))
      append(s, dim, orders.select("o_orderkey", "o_orderpriority"))
    }
  }

  /** tt65's staged log: orders loaded round-robin BEFORE any layout
    * declaration (overlapping bands, no stamps — the ordering gate
    * refuses), then `write.ordered-by` declared and the SQL
    * `CALL system.optimize_sorted` rewrite run: the live files come
    * out stamped, interior-sorted, and chain-disjoint, so scans report
    * ordering from then on. The row's oracle proves the rewrite is
    * content-preserving.
    */
  private val optimizeSortedLog = log("ttosort") { (s, dir, root) =>
    append(s, root, Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartition(4))
    setSortOrder(s, root, Seq(SortField("o_orderkey")))
    snapcat(s)
    s.sql(s"CALL snapcat.system.optimize_sorted('$root', 8)")
  }

  /** tt66's staged log: half the orders loaded under a
    * `bucket(8, o_custkey)` spec, the spec then CHANGED through the
    * SQL door (`CALL system.set_partition_spec`) to
    * `days(o_orderdate)` — a metadata-only commit, Iceberg's spec
    * evolution — and the other half appended under the NEW spec: old
    * files keep their bucket bands, new files carry day bands, and
    * each era keeps pruning under the stats IT recorded
    * (HiddenPartitionSpec pins the mixed-era pruning; no rewrite
    * anywhere). The row's oracle proves the evolution lost nothing.
    */
  private val specEvolutionLog = log("ttsevo") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    appendPartitioned(s, root, orders.filter(keyMod(2, 0)),
      Seq(PartField("bucket", "o_custkey", 8)))
    snapcat(s)
    s.sql(s"CALL snapcat.system.set_partition_spec(" +
      s"'$root', 'days(o_orderdate)')")
    append(s, root, orders.filter(keyMod(2, 1)))
  }

  /** Staged CO-DAY-FANOUT pair for the time-transform storage
    * partitioned join: two tables declaring `days(d)`, fanout-written
    * so every data file covers exactly one day — the layout under
    * which both scans report `KeyGroupedPartitioning(days(d))` (the
    * catalog serves the V2 `days` function) and the join plans with
    * zero Exchange on either side. The day column derives from the
    * order key so the fixture stays bounded (8 days) at every SF.
    */
  private val spjDaysLogs = pair("ttspjd") { case (s, dir, (fact, dim)) =>
    val withDay = Tables(s, dir, "orders").withColumn("d",
      date_add(lit("1970-01-01").cast("date"),
        pmod(col("o_orderkey"), lit(8)).cast("int")).cast("timestamp"))
    withSessionConf(s, "spark.graft.write.fanout", "true") {
      createTable(s, fact,
        StructType.fromDDL("d TIMESTAMP, o_orderkey BIGINT, o_custkey BIGINT"),
        Seq(PartField("days", "d")))
      append(s, fact, withDay.select("d", "o_orderkey", "o_custkey"))
      createTable(s, dim,
        StructType.fromDDL("d TIMESTAMP, o_orderkey BIGINT, o_orderpriority STRING"),
        Seq(PartField("days", "d")))
      append(s, dim, withDay.select("d", "o_orderkey", "o_orderpriority"))
    }
  }

  /** Staged day-fanout log for the PRUNED aggregate pushdown: `days(d)`
    * spec, fanout-written (every file covers one day — d point-banded
    * and null-free per file), with o_custkey NULLED on a key slice so
    * COUNT(o_custkey) ≠ COUNT(*) and the answer must come from the
    * PER-FILE null counts of exactly the pruned file set.
    */
  private val countPrunedLog = log("ttcpr") { (s, dir, root) =>
    val withDay = Tables(s, dir, "orders")
      .withColumn("d",
        date_add(lit("1970-01-01").cast("date"),
          pmod(col("o_orderkey"), lit(8)).cast("int")).cast("timestamp"))
      .withColumn("o_custkey",
        when(keyMod(5, 0), lit(null))
          .otherwise(col("o_custkey")))
    withSessionConf(s, "spark.graft.write.fanout", "true") {
      createTable(s, root,
        StructType.fromDDL(
          "d TIMESTAMP, o_orderkey BIGINT, o_custkey BIGINT"),
        Seq(PartField("days", "d")))
      append(s, root, withDay.select("d", "o_orderkey", "o_custkey"))
    }
  }

  /** Staged nested-evolution log: era-A files written with
    * `meta STRUCT<name, qty>`, a pure-SQL nested RENAME
    * (`meta.name` → `label`, metadata-only, field-id preserved), then
    * era-B files under the evolved shape — both eras must read through
    * the current schema.
    */
  private val sqlNestedEvolveLog = log("ttnest") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
    append(s, root, orders
      .filter(keyMod(2, 0))
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("name"),
          col("o_custkey").as("qty")).as("meta")))
    snapcat(s)
    s.sql(s"ALTER TABLE snapcat.`$root` RENAME COLUMN meta.name TO label")
    append(s, root, orders
      .filter(keyMod(2, 1))
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("label"),
          col("o_custkey").as("qty")).as("meta")))
  }

  /** Staged ARRAY-OF-STRUCT evolution log over `orders`: era A writes
    * `ingredients: array<struct<name, qty>>`, SQL `ALTER TABLE` then
    * renames `ingredients.element.name` to `label` and ADDs
    * `ingredients.element.unit` (both metadata-only — the container
    * path steps thread the field ids through the array), and era B
    * appends under the evolved shape with real units. The document
    * shape the reference's recipe schema uses
    * (reference schema/recipe.json:9-70, exploded at
    * src/etl_pipeline.py:71-79).
    */
  private val sqlArrayEvolveLog = log("ttarrev") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
    append(s, root, orders
      .filter(keyMod(2, 0))
      .select(col("o_orderkey"), array(
        struct(col("o_orderstatus").as("name"),
          col("o_custkey").cast("long").as("qty")),
        struct(col("o_orderpriority").as("name"),
          pmod(col("o_orderkey"), lit(100)).cast("long").as("qty")))
        .as("ingredients")))
    snapcat(s)
    s.sql(s"ALTER TABLE snapcat.`$root` " +
      "RENAME COLUMN ingredients.element.name TO label")
    s.sql(s"ALTER TABLE snapcat.`$root` " +
      "ADD COLUMN ingredients.element.unit STRING")
    append(s, root, orders
      .filter(keyMod(2, 1))
      .select(col("o_orderkey"), array(
        struct(col("o_orderstatus").as("label"),
          col("o_custkey").cast("long").as("qty"), lit("g").as("unit")),
        struct(col("o_orderpriority").as("label"),
          pmod(col("o_orderkey"), lit(100)).cast("long").as("qty"),
          lit("g").as("unit")))
        // literal fields come out non-nullable; the table's element
        // struct is nullable — align via cast before the merge
        .cast("array<struct<label: string, qty: bigint, unit: string>>")
        .as("ingredients")))
  }

  /** Staged MoR-dirty log over `orders`: one append, then a
    * positional-delete-vector delete of every 10th order key — the
    * outstanding-DV state tt60 proves COUNT pushdown survives.
    */
  private val sqlDvCountLog = log("ttdvcnt") { (s, dir, root) =>
    append(s, root, Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .repartition(4))
    deleteWhereMoR(s, root, keyMod(10, 0))
  }

  /** Staged null-audit log over `orders`: one all-null-`note` append
    * (even keys) and one null-free append (odd keys) — the layout
    * where `WHERE note IS NULL` is file-decidable from null counts
    * alone.
    */
  private val sqlNullAuditLog = log("ttnullaud") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
    append(s, root, orders
      .filter(keyMod(2, 0))
      .select(col("o_orderkey"),
        lit(null).cast("string").as("note")))
    append(s, root, orders
      .filter(keyMod(2, 1))
      .select(col("o_orderkey"),
        concat(lit("n"), col("o_orderkey")).as("note")))
  }

  /** Staged SKEWED co-day-fanout pair: fact day 0 holds ~50% of the
    * rows (the hot partition), written in three slices so the hot day
    * spans multiple files — the layout where plain key-grouped SPJ
    * serializes the hot day onto one task and Spark's
    * partially-clustered distribution splits it while the join stays
    * exchange-free.
    */
  private val spjSkewLogs = pair("ttspjsk") { case (s, dir, (fact, dim)) =>
    val dayCol = when(keyMod(2, 0), lit(0))
      .otherwise(pmod(col("o_orderkey"), lit(8)))
    val withDay = Tables(s, dir, "orders").withColumn("d",
      date_add(lit("1970-01-01").cast("date"), dayCol.cast("int"))
        .cast("timestamp"))
    withSessionConf(s, "spark.graft.write.fanout", "true") {
      // the STRING column rides the FACT: Spark's partial-clustering
      // heuristic leaves the LARGER-estimated side split and
      // replicates the other — the fact must be the big one for the
      // hot day to actually parallelize
      createTable(s, fact,
        StructType.fromDDL("d TIMESTAMP, o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_orderpriority STRING"),
        Seq(PartField("days", "d")))
      (0 to 2).foreach(slice => append(s, fact,
        withDay.filter(keyMod(3, slice))
          .select("d", "o_orderkey", "o_custkey", "o_orderpriority")))
      createTable(s, dim,
        StructType.fromDDL("d TIMESTAMP, o_orderkey BIGINT"),
        Seq(PartField("days", "d")))
      append(s, dim, withDay.select("d", "o_orderkey"))
    }
  }

  /** Staged histogram pair: a fact keyed into [0,2000) and a SKEWED
    * dim — 95% of `w` packed into [1,10], the rest spread to ~2000 —
    * the distribution where a min/max-uniform range estimate is off
    * by two orders of magnitude and only the manifest histogram gets
    * `w <= 10` right.
    */
  private val histLogs = pair("tthist") { case (s, dir, (fact, dim)) =>
    val orders = Tables(s, dir, "orders")
    append(s, fact, orders
      .select(pmod(col("o_orderkey"), lit(2000)).as("k"),
        col("o_orderkey").as("m")).repartition(4))
    append(s, dim, orders
      .select(col("o_orderkey").as("k"),
        when(keyMod(20, 0),
          pmod(col("o_orderkey"), lit(2000)))
          .otherwise(pmod(col("o_orderkey"), lit(10)) + 1).as("w"))
      .repartition(2))
  }

  /** Staged correlated-MERGE log: one append, then a MERGE whose WHEN
    * MATCHED arm carries a CORRELATED EXISTS — the binder rebinds the
    * subquery's outer references onto the discovery frame and Catalyst
    * decorrelates it to a semi-join inside the arm filter.
    */
  private val sqlCorrMergeLog = log("ttsqlcm") { (s, dir, root) =>
    append(s, root, orderRows(s, dir).repartition(4))
    snapcat(s)
    Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("u_key"))
      .createOrReplaceTempView("tt58_urgent")
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("s_key"))
      .createOrReplaceTempView("tt58_src")
    s.sql(
      s"""MERGE INTO snapcat.`$root` t USING tt58_src s
         |ON t.o_orderkey = s.s_key
         |WHEN MATCHED AND EXISTS (
         |  SELECT 1 FROM tt58_urgent u WHERE u.u_key = t.o_orderkey)
         |THEN UPDATE SET o_orderstatus = 'M'""".stripMargin)
  }

  /** Staged refs log: two appends with a TAG pinned at v1 and a live
    * branch (fork v2, one staged commit) — the mid-audit state the
    * refs table exists to surface.
    */
  private val refsLog = log("ttrefs") { (s, dir, root) =>
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(col("o_orderkey") % 2 === 0))
    tag(s, root, "q1-close")
    append(s, root, orders.filter(col("o_orderkey") % 2 === 1))
    createBranch(s, root, "audit")
    appendToBranch(s, root, "audit",
      orders.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("A")))
  }

  /** Staged SQL-DELETE log: one append, then a pure-SQL `DELETE FROM …
    * WHERE` whose predicate has NO sources.Filter translation (modulo
    * arithmetic) — the arm the DML rewrite exists for; executed as the
    * library's copy-on-write delete.
    */
  private val sqlDeleteLog = log("ttsqld") { (s, dir, root) =>
    append(s, root, orderRows(s, dir).repartition(4))
    snapcat(s)
    s.sql(s"DELETE FROM snapcat.`$root` " +
      "WHERE o_orderkey % 7 = 3 AND o_orderstatus <> 'F'")
  }

  /** Staged SQL-UPDATE log: one append, then a pure-SQL partial-column
    * `UPDATE … SET … WHERE` over the catalog door, executed as a
    * merge-on-read commit (`mor-update`: one delete vector + the
    * updated rows, zero pre-existing files rewritten).
    */
  private val sqlUpdateLog = log("ttsqlu") { (s, dir, root) =>
    append(s, root, orderRows(s, dir).repartition(4))
    snapcat(s)
    s.sql(s"UPDATE snapcat.`$root` SET o_orderstatus = 'U' " +
      "WHERE o_orderkey % 10 = 0")
  }

  /** Staged SQL-ALTER log: append, then pure-SQL RENAME COLUMN and
    * ADD COLUMN — two metadata-only evolution commits through the
    * catalog's alterTable; old files read the renamed column through
    * field ids and NULL for the added one.
    */
  private val sqlAlterLog = log("ttsqla") { (s, dir, root) =>
    append(s, root, orderRows(s, dir).repartition(4))
    snapcat(s)
    s.sql(s"ALTER TABLE snapcat.`$root` RENAME COLUMN o_orderstatus TO status")
    s.sql(s"ALTER TABLE snapcat.`$root` ADD COLUMN note STRING")
  }

  /** Staged SQL-MERGE-EVOLVE log: tt30's upsert scenario, but the
    * source carries a column the target lacks and the statement says
    * `WITH SCHEMA EVOLUTION` — Spark's ResolveMergeIntoSchemaEvolution
    * (admitted by the table's AUTOMATIC_SCHEMA_EVOLUTION capability)
    * widens the target through the catalog's alterTable (the library's
    * metadata-only addColumn commit), then the merge lands as the
    * normal MoR commit: pre-existing unmatched rows read NULL for the
    * new column, matched + inserted rows carry the source's values.
    */
  private val sqlMergeEvolveLog = log("ttsqle") { (s, dir, root) =>
    val orders = orderRows(s, dir)
    append(s, root, orders.repartition(4))
    orders.filter(keyMod(10, 0))
      .withColumn("o_orderstatus", lit("X"))
      .withColumn("o_note", concat(lit("n"), col("o_custkey")))
      .unionByName(
        orders.filter(keyMod(10, 1))
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("o_note", lit("new")))
      .createOrReplaceTempView("tt39_src")
    snapcat(s)
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO snapcat.`$root` t
         |USING tt39_src s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  /** Staged SQL-CTAS log: the table is born from PURE SQL — `CREATE
    * TABLE … PARTITIONED BY (days(ts)) AS SELECT …` over the events
    * table — so the declared hidden-partitioning spec, the CTAS write,
    * and the day-band routing all go through the catalog door tt27
    * exercises via the library API.
    */
  private val sqlCtasLog = log("ttctas") { (s, dir, root) =>
    snapcat(s)
    Tables(s, dir, "events")
      .select("event_id", "user_id", "event_type", "ts")
      .createOrReplaceTempView("tt31_src")
    s.sql(s"CREATE TABLE snapcat.`$root` PARTITIONED BY (days(ts)) " +
      "AS SELECT * FROM tt31_src")
  }

  /** The shared four-commit seed tt23 AND tt24 stage (evens append,
    * mod-3 key-set delete, odds append, status-'P' key-set delete) —
    * one body, so tt24's "tt23 minus the F rows" oracle relationship
    * can never drift out of sync with tt23's staging.
    */
  private def seedEqScenario(s: SparkSession, dir: String, root: String): Unit = {
    val orders = orderRows(s, dir)
    append(s, root, orders.filter(keyMod(2, 0)).repartition(4))
    deleteWhereEqual(s, root,
      orders.filter(keyMod(3, 0)).select("o_orderkey"))
    append(s, root, orders.filter(keyMod(2, 1)).repartition(4))
    deleteWhereEqual(s, root,
      s.range(1).select(lit("P").as("o_orderstatus")))
  }

  /** Staged EQUALITY-delete log: evens appended (snap 1), a scan-free
    * key-set delete of EVERY key ≡ 0 (mod 3) — including odd multiples
    * not yet in the table (snap 2), the odds appended (snap 3), then a
    * second key-set delete on a DIFFERENT key column (status 'P',
    * snap 4). The sequence rule is the whole point: the first delete
    * kills only keys ≡ 0 (mod 6) (the evens it predates — re-inserted
    * odd multiples of 3 survive), the second kills 'P' rows in BOTH
    * eras. Two outstanding sets with different key columns also pin
    * the per-era grouping in [[SnapshotLog.morApply]].
    */
  private val eqLog = log("tteq")(seedEqScenario)

  /** Staged eq-conversion log: [[eqLog]]'s shape, then
    * [[SnapshotLog.rewriteEqualityDeletes]] converts the key sets to one
    * positional vector (re-exacting the row count),
    * [[SnapshotLog.rewriteDeletes]] folds it into data files, and a CoW
    * delete of the 'F' rows proves partial rewrites are unlocked again.
    * Read-invariance of the two rewrites is pinned separately in
    * SnapshotEqDeleteSpec via [[SnapshotLog.changes]].
    */
  private val eqRewriteLog = log("tteqr") { (s, dir, root) =>
    seedEqScenario(s, dir, root)
    rewriteEqualityDeletes(s, root)
    rewriteDeletes(s, root)
    deleteWhere(s, root, col("o_orderstatus") === "F")
  }

  /** Staged EQUALITY-merge log: [[mergeLog]]'s exact scenario (update
    * every key ≡ 0 (mod 10) to 'X', insert shifted copies of keys ≡ 1)
    * committed through [[SnapshotLog.mergeIntoEqual]] — matched rows
    * retract via the key set, the source appends, ZERO existing files
    * read or located. Shares tt5's oracle VERBATIM: the third merge
    * implementation (CoW, MoR-positional, MoR-equality) must be
    * observationally identical to the other two.
    */
  private val eqMergeLog = log("tteqm") { (s, dir, root) =>
    mergeIntoEqual(s, root, appendThenUpsertSource(s, dir, root),
      Seq("o_orderkey"))
  }

  /** The tt-family staged orders log, exposed for cross-operator
    * fixtures ([[IncrementalView]]'s iv1 folds its change feed).
    */
  def stagedOrdersLog(s: SparkSession, dir: String): String = ordersLog(s, dir)

  /** tt13's fixture: [[ordersLog]] with its pre-delete snapshot (v3)
    * pinned as tag "audit". Re-tagging is skipped once the tag exists,
    * so after staging the row only resolves the ref.
    */
  private def taggedOrdersLog(s: SparkSession, dir: String): String = {
    val root = ordersLog(s, dir)
    if (!hasTag(s, root, "audit")) tag(s, root, "audit", id = 3L)
    root
  }

  /** Staged branch scenario over `orders`: main holds batch 0 (keys
    * ≡ 0 mod 3); a branch accumulates batches 1 and 2 invisibly (the
    * staging asserts main still reads batch 0 only — the isolation IS
    * part of the fixture), then fast-forwards. tt28 reads the
    * published table.
    */
  private val branchLog = log("ttbranch") { (s, dir, root) =>
    val (mainRows, b1, b2) = mainThenBranchBatches(s, dir, root)
    createBranch(s, root, "load")
    appendToBranch(s, root, "load", b1)
    appendToBranch(s, root, "load", b2)
    require(read(s, root).count() == mainRows,
      "branch commits leaked into the main line")
    fastForward(s, root, "load")
  }

  /** Staged SQL-DELETE-subquery log: one append, then a pure-SQL
    * `DELETE … WHERE key IN (SELECT …)` — the uncorrelated-subquery
    * arm, executed as a merge-on-read commit whose discovery frame
    * evaluates the subquery as an ordinary semi-join.
    */
  private val sqlDeleteSubqLog = log("ttsqds") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
    append(s, root,
      orders.select("o_orderkey", "o_custkey", "o_orderstatus")
        .repartition(4))
    orders.select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("tt43_pri")
    snapcat(s)
    s.sql(s"DELETE FROM snapcat.`$root` WHERE o_orderkey IN " +
      "(SELECT o_orderkey FROM tt43_pri " +
      "WHERE o_orderpriority = '1-URGENT')")
  }

  /** Staged CORRELATED-DELETE log: the canonical retention/GC
    * statement — `DELETE … WHERE EXISTS (… s.key = t.key AND s.cond)`
    * against a tombstone view. The binder rebinds the subquery's outer
    * references onto the MoR discovery frame and Catalyst decorrelates
    * it into the semi-join it really is — never a per-row probe.
    */
  private val sqlCorrDeleteLog = log("ttcord") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
    append(s, root,
      orders.select("o_orderkey", "o_custkey", "o_orderstatus")
        .repartition(4))
    orders.select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("tt47_tomb")
    snapcat(s)
    s.sql(s"DELETE FROM snapcat.`$root` t WHERE EXISTS " +
      "(SELECT 1 FROM tt47_tomb s WHERE s.o_orderkey = t.o_orderkey " +
      "AND s.o_orderpriority = '1-URGENT')")
  }

  /** Staged CORRELATED-UPDATE log: a correlated scalar subquery in SET
    * (left join + projection after decorrelation) gated by a plain
    * WHERE — the enrich-in-place statement.
    */
  private val sqlCorrUpdateLog = log("ttcoru") { (s, dir, root) =>
    val orders = Tables(s, dir, "orders")
    append(s, root,
      orders.select("o_orderkey", "o_custkey", "o_orderstatus")
        .repartition(4))
    orders.select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("tt47_pri")
    snapcat(s)
    s.sql(s"UPDATE snapcat.`$root` t SET o_orderstatus = " +
      "(SELECT substring(s.o_orderpriority, 1, 1) FROM tt47_pri s " +
      "WHERE s.o_orderkey = t.o_orderkey) " +
      "WHERE t.o_custkey % 10 = 0")
  }

  /** Staged COLUMN-STATS log: orders columns whose distinct counts sit
    * below the KMV sketch size, so the manifest-recorded NDVs are
    * EXACT and the DuckDB oracle can recompute every cell — plus a
    * derived nullable column proving null accounting.
    */
  private val statsTableLog = log("ttstats") { (s, dir, root) =>
    append(s, root, Tables(s, dir, "orders").select(
      col("o_orderstatus"), col("o_orderpriority"),
      expr("nullif(o_orderstatus, 'F')").as("status_n"))
      .repartition(3))
  }

  /** Staged SQL-WAP scenario: [[branchLog]]'s exact batches, but the
    * branch writes are PURE SQL — `spark.graft.wap.branch` flips the
    * session into staging mode, two `INSERT INTO` land on the
    * auto-forked branch (the staging asserts a conf-less read still
    * sees batch 0 only — isolation IS the fixture), a WAP read audits
    * the staged rows, and `CALL system.fast_forward` publishes. Shares
    * tt28's oracle VERBATIM: the SQL WAP door must publish exactly
    * what the library branch door publishes. Its own key: sharing
    * tt16's would hand it tt16's library-WAP log whenever tt16 staged
    * first, and the SQL door would never run.
    */
  private val sqlWapLog = log("ttsqlwap") { (s, dir, root) =>
    val (mainRows, b1, b2) = mainThenBranchBatches(s, dir, root)
    snapcat(s)
    b1.createOrReplaceTempView("tt38_b1")
    b2.createOrReplaceTempView("tt38_b2")
    def visibleRows(): Long =
      s.sql(s"SELECT count(*) AS n FROM snapcat.`$root`").head().getLong(0)
    withSessionConf(s, "spark.graft.wap.branch", "audit") {
      s.sql(s"INSERT INTO snapcat.`$root` SELECT * FROM tt38_b1")
      s.sql(s"INSERT INTO snapcat.`$root` SELECT * FROM tt38_b2")
      // the session AUDITS its own staged rows…
      require(visibleRows() > mainRows, "WAP read must see the staged branch")
    }
    // …while a conf-less read still sees main only
    require(visibleRows() == mainRows,
      "staged WAP commits leaked into the main line")
    s.sql(s"CALL snapcat.system.fast_forward('$root', 'audit')")
  }

  /** Staged SQL-WAP-DML scenario: [[sqlWapLog]]'s staging loop plus
    * row-level DML on the branch — after the two staged INSERTs, a
    * WAP `UPDATE` and a WAP `DELETE` commit MoR vectors into the
    * branch's manifest chain (the staging asserts main still reads
    * batch 0 only), then fast-forward publishes the audited state.
    * The oracle recomputes the whole pipeline relationally.
    */
  private val sqlWapDmlLog = log("ttwapd") { (s, dir, root) =>
    val (mainRows, b1, b2) = mainThenBranchBatches(s, dir, root)
    snapcat(s)
    b1.createOrReplaceTempView("tt42_b1")
    b2.createOrReplaceTempView("tt42_b2")
    withSessionConf(s, "spark.graft.wap.branch", "curate") {
      s.sql(s"INSERT INTO snapcat.`$root` SELECT * FROM tt42_b1")
      s.sql(s"INSERT INTO snapcat.`$root` SELECT * FROM tt42_b2")
      s.sql(s"UPDATE snapcat.`$root` SET o_orderstatus = 'W' " +
        "WHERE o_orderkey % 10 = 0")
      s.sql(s"DELETE FROM snapcat.`$root` WHERE o_orderkey % 7 = 3")
    }
    require(read(s, root).count() == mainRows,
      "staged WAP DML leaked into the main line")
    s.sql(s"CALL snapcat.system.fast_forward('$root', 'curate')")
  }

  /** Staged TWO-log transaction scenario over `orders`: log A seeds
    * keys ≡ 0 (mod 4), log B keys ≡ 1; then ONE
    * [[SnapshotLog.commitTransaction]] lands ≡ 2 into A and ≡ 3 into B
    * atomically. tt29 reads the union — a lost or torn half breaks the
    * full-table hash.
    */
  private val txnLogs = pair("tttxn", "a", "b") { case (s, dir, (a, b)) =>
    val (toA, toB) = seedTxnLogs(s, dir, a, b)
    commitTransaction(s, Seq(a -> toA, b -> toB), txnDir(a))
  }

  /** Staged SQL-transaction scenario: [[txnLogs]]'s exact two-log
    * atomic commit, but driven end-to-end from SQL — `CALL
    * system.begin_txn` starts staging, two `INSERT INTO` buffer (the
    * staging asserts they are INVISIBLE before the decision), `CALL
    * system.commit_txn` lands both through the library's two-phase
    * commit. Shares tt29's oracle VERBATIM.
    */
  private val sqlTxnLogs = pair("ttsqlt", "a", "b") { case (s, dir, (a, b)) =>
    val (toA, toB) = seedTxnLogs(s, dir, a, b)
    val (aRows, bRows) = (read(s, a).count(), read(s, b).count())
    snapcat(s)
    toA.createOrReplaceTempView("tt41_a")
    toB.createOrReplaceTempView("tt41_b")
    s.sql(s"CALL snapcat.system.begin_txn('${txnDir(a)}')")
    s.sql(s"INSERT INTO snapcat.`$a` SELECT * FROM tt41_a")
    s.sql(s"INSERT INTO snapcat.`$b` SELECT * FROM tt41_b")
    // staged inserts are INVISIBLE until the decision
    require(read(s, a).count() == aRows && read(s, b).count() == bRows,
      "staged SQL transaction leaked before commit_txn")
    s.sql(s"CALL snapcat.system.commit_txn()")
  }

  /** Staged hidden-partitioned log over `events`: one append under a
    * declared `days(ts)` spec — rows route by day, every file stamps
    * its day band, and tt27 reads a two-day window back out through
    * the transform pruning (exposed for HiddenPartitionSpec's pruning
    * assertion on the same fixture the registry row reads).
    */
  private[graft] val partitionLog: (SparkSession, String) => String =
    log("ttpart") { (s, dir, root) =>
      // at test scale AQE would coalesce the whole month into one file
      // and there would be nothing to prune — stage with coalescing
      // off so the day clustering materializes as it would at size
      withSessionConf(s, "spark.sql.adaptive.coalescePartitions.enabled",
        "false") {
        appendPartitioned(s, root,
          Tables(s, dir, "events")
            .select("event_id", "ts", "user_id", "event_type"),
          Seq(PartField("days", "ts")))
      }
    }

  // ---- registry --------------------------------------------------------

  /** One tt row over a fixture: `fn` gets the roots the fixture staged,
    * and the fixture is also the row's `stage`, so Bench stages it
    * outside the timed window and the timed `fn` only finds the marker.
    */
  private def row[R](name: String, fixture: (SparkSession, String) => R,
      oracle: String, bench: Boolean = true)(
      fn: (SparkSession, String, R) => DataFrame): Q =
    Q(name, (s, dir) => fn(s, dir, fixture(s, dir)), Some(oracle), bench,
      stage = Some((s, dir) => { fixture(s, dir); () }))

  // oracles that several rows share VERBATIM: the doors they compare
  // must produce exactly the same table

  private val AllOrders =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |ORDER BY o_orderkey""".stripMargin

  private val FirstTwoBatches =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey % 3 <= 1 ORDER BY o_orderkey""".stripMargin

  private val OrdersLogHistory =
    """WITH b AS (
      |  SELECT 1 AS snapshot_id, 'append' AS operation,
      |         (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows
      |  UNION ALL SELECT 2, 'append',
      |         (SELECT count(*) FROM orders WHERE o_orderkey % 3 <= 1)
      |  UNION ALL SELECT 3, 'append',
      |         (SELECT count(*) FROM orders)
      |  UNION ALL SELECT 4, 'delete',
      |         (SELECT count(*) FROM orders WHERE o_orderstatus <> 'F'))
      |SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, operation,
      |       CAST(n_rows AS BIGINT) AS n_rows
      |FROM b ORDER BY snapshot_id""".stripMargin

  private val UpsertResult =
    """SELECT o_orderkey, o_custkey,
      |       CASE WHEN o_orderkey % 10 = 0 THEN 'X'
      |            ELSE o_orderstatus END AS o_orderstatus
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_custkey, 'N'
      |FROM orders WHERE o_orderkey % 10 = 1
      |ORDER BY o_orderkey""".stripMargin

  private val DeletedFRows =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |       'delete' AS change
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  private val TwoDayEvents =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts <= TIMESTAMP '2024-01-11 23:59:59'
      |ORDER BY event_id""".stripMargin

  private val OrdersWithPriority =
    """SELECT o_orderkey, o_custkey, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val OrdersInCents =
    """SELECT o_orderkey, o_custkey,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val all: Seq[Q] = Seq(
    // TT1: time travel — read the table AS OF snapshot 2 (first two of
    // three appends) and return its full content. The oracle recomputes
    // that prefix from the raw table; a hash match proves the manifest
    // pinned exactly the right immutable files.
    row("tt1_time_travel", ordersLog, FirstTwoBatches) { (s, _, root) =>
      read(s, root, asOf = 2L)
        .orderBy("o_orderkey")
    },

    // TT2: copy-on-write delete isolation — after v4 dropped the 'F'
    // rows, v3 still reads the FULL table (history is immutable) and
    // current reads the filtered one. Both checked per-status with
    // count + key-sum so a file accidentally rewritten in place (the
    // classic CoW bug) flips the v3 rows.
    row("tt2_cow_delete", ordersLog,
      """SELECT 3 AS snap, o_orderstatus, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 4, o_orderstatus, count(*),
        |       CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus
        |ORDER BY snap, o_orderstatus""".stripMargin) { (s, _, root) =>
      def tally(df: DataFrame, snap: Int) = df
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"))
        .withColumn("snap", lit(snap))
        .select("snap", "o_orderstatus", "n", "key_sum")
      tally(read(s, root, asOf = 3L), 3)
        .unionByName(tally(read(s, root), 4))
        .orderBy("snap", "o_orderstatus")
    },

    // TT3: the history table itself — (id, operation, total rows) per
    // snapshot, straight from manifest metadata (zero data reads); the
    // oracle recomputes each snapshot's total from the raw table.
    // bench=false: it times manifest reads, not an engine operator.
    row("tt3_snapshot_history", ordersLog, OrdersLogHistory,
        bench = false) { (s, _, root) =>
      val h = history(s, root)
        .map(sn => (sn.id, sn.operation, sn.rows))
      import s.implicits._
      h.toDF("snapshot_id", "operation", "n_rows")
        .orderBy("snapshot_id")
    },

    // TT4: incremental changelog read — changes(1→2) must be exactly the
    // batch-2 inserts, and changes(3→4) exactly the CoW-deleted 'F'
    // rows with NO spurious inserts (carried rewrites cancel under
    // exceptAll). The oracle recomputes both deltas relationally.
    row("tt4_snapshot_changes", ordersLog,
      """SELECT 2 AS to_snap, 'insert' AS change,
        |       o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT 4, 'delete', o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY to_snap, change, o_orderkey""".stripMargin) { (s, _, root) =>
      changes(s, root, 1L, 2L).withColumn("to_snap", lit(2))
        .unionByName(changes(s, root, 3L, 4L).withColumn("to_snap", lit(4)))
        .select("to_snap", "change", "o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("to_snap", "change", "o_orderkey")
    },

    // TT5: copy-on-write MERGE — after upserting (update keys ≡0 mod 10
    // to 'X', insert shifted keys ≡1 mod 10 as 'N') the current snapshot
    // must read as exactly the relational merge result; the oracle
    // recomputes it from the raw table. Full-content hash, so a dropped
    // survivor row, a double-applied update, or a lost carried file all
    // flip the row hash.
    row("tt5_merge_upsert", mergeLog, UpsertResult) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT6: manifest-stats pruned range read — a narrow key band over
    // the range-clustered log. Correctness never depends on pruning
    // (the residual filter runs either way); SnapshotLogSpec asserts
    // the plan-side property (the planned scan keeps only the overlapping
    // band). The oracle is the plain relational range scan.
    row("tt6_stats_pruned_read", rangeLog,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey BETWEEN 3000 AND 6000
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      readRange(s, root, "o_orderkey", Some("3000"), Some("6000"))
        .orderBy("o_orderkey")
    },

    // TT7: OPTIMIZE preserves content bit-exactly — the full table read
    // AFTER two interleaved appends + a clustered rewrite must
    // hash-match the raw table (a dropped/duplicated row in the rewrite
    // flips the hash). The layout half of the claim (8 disjoint stat
    // bands, narrow reads pruning to 1 file, changelog-empty commit) is
    // plan-level and asserted in SnapshotLogSpec.
    row("tt7_optimize_rewrite", optimizeLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT8: the full change-data feed — replaying ordersLog's history
    // (three appends + the CoW delete) as per-snapshot tagged deltas
    // must yield each append batch as inserts and the delete's rows as
    // deletes, nothing else (carried rewrites cancel per transition).
    // The oracle reconstructs the same feed relationally.
    row("tt8_changelog_feed", ordersLog,
      """SELECT CAST(1 AS BIGINT) AS snapshot_id, 'insert' AS change,
        |       o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 2, 'insert', o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT 3, 'insert', o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 2
        |UNION ALL
        |SELECT 4, 'delete', o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY snapshot_id, change, o_orderkey""".stripMargin) { (s, _, root) =>
      changelog(s, root)
        .select("snapshot_id", "change", "o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("snapshot_id", "change", "o_orderkey")
    },

    // TT9: bloom-pruned point reads — three key probes (min key, an
    // absent key, max key) against the round-robin-appended log, where
    // every file's [min,max] covers the probes and ONLY the per-file
    // blooms skip. The residual filter makes the answer correct
    // regardless of pruning (the oracle knows nothing of blooms);
    // SnapshotLogSpec asserts the skipping itself. The probed keys are
    // derived from one single-row aggregate (bounded driver value).
    row("tt9_bloom_point_read", bloomLog,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (
        |    SELECT min(o_orderkey) FROM orders
        |    UNION ALL SELECT min(o_orderkey) + 17 FROM orders
        |    UNION ALL SELECT max(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir, root) =>
      val mm = Tables(s, dir, "orders")
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      Seq(mm.getLong(0), mm.getLong(0) + 17L, mm.getLong(1)).distinct
        .map(k => readPoint(s, root, "o_orderkey", k))
        .reduce(_ unionByName _)
        .orderBy("o_orderkey")
    },

    // TT10: read-after-maintenance — the periodic expire+vacuum pair
    // ran against this log's history (fixture asserts 2 manifests
    // actually expired) and the CURRENT table must read back exactly:
    // history truncation and debris reclamation may never touch live
    // data. The oracle recomputes the post-delete content from the raw
    // table; the live-file liveness logic it exercises (a file
    // referenced by ANY surviving snapshot survives) is the invariant
    // that makes retention safe to automate at 100 TB.
    row("tt10_expire_vacuum", maintLog,
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderstatus <> 'F' ORDER BY o_orderkey""".stripMargin) {
      (s, _, root) => read(s, root).orderBy("o_orderkey")
    },

    // TT11: read after targeted small-file compaction — eight tiny
    // appends packed into O(1) files while the large first append rode
    // by reference (SnapshotLogSpec asserts the carry byte-identical
    // and the file-count drop); the oracle proves content
    // bit-preservation, the property that lets the compactor run
    // unattended against a live 100 TB table.
    row("tt11_binpack_compaction", binpackLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT12: metadata-only COUNT/MIN/MAX — answered entirely from the
    // manifest's per-file row counts and min/max stats, zero data
    // files opened ([[SnapshotLog.statsSummary]]; SnapshotStatsOnlySpec
    // deletes the data files and the answer survives). Integer columns
    // only in the oracle row: the manifest renders bounds as strings,
    // and integer rendering is engine-identical where double rendering
    // is not.
    row("tt12_stats_only_query", rangeLog,
      """SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_val FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(count(*) AS BIGINT),
        |  CAST(min(o_orderkey) AS VARCHAR),
        |  CAST(max(o_orderkey) AS VARCHAR) FROM orders
        |ORDER BY col_name""".stripMargin) { (s, _, root) =>
      statsSummary(s, root, Seq("o_orderkey", "o_custkey"))
        .orderBy("col_name")
    },

    // TT13: named refs — ordersLog's pre-delete snapshot (v3, the full
    // table) pinned as tag "audit" and read BY NAME. The tag write
    // happens in the STAGE hook (fixture setup, outside the timed
    // window and idempotent — re-tagging the same id is a no-op pin
    // move), so the benched row times the read, per the tt-row basis;
    // the ref itself is additive metadata under refs/, leaving the
    // manifests tt1–tt4 read untouched. The oracle is the full-orders
    // content only the pre-delete snapshot has — a read that ignored
    // the tag and served current breaks the hash.
    row("tt13_tagged_read", taggedOrdersLog, AllOrders) { (s, _, root) =>
      readTag(s, root, "audit").orderBy("o_orderkey")
    },

    // TT14: field-id rename evolution — half the table written under
    // the OLD column name, half under the new one after a
    // metadata-only rename, then a CoW delete predicated on the
    // renamed column. The full read must resolve both eras' files by
    // field id and the delete must have dropped 'F' rows from BOTH
    // eras; the oracle is the plain relational result under the new
    // name. A by-name resolver would null out the pre-rename half and
    // break the hash.
    row("tt14_rename_evolution", renameLog,
      """SELECT o_orderkey, o_custkey, o_orderstatus AS status
        |FROM orders WHERE o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT15: metadata-only ROLLBACK — after a bad CoW delete, the table
    // rolls back to the pre-delete snapshot as a NEW head that carries
    // the target's file lists by reference (zero data movement). The
    // current read must be the full table again; the mistaken delete
    // stays addressable in history. The oracle is the full-orders
    // content — a rollback that kept serving the post-delete state (or
    // that copied/corrupted files) breaks the hash.
    row("tt15_rollback", rollbackLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT16: write-audit-publish — half the table staged invisibly and
    // published after the audit window (one manifest rename splicing
    // the staged file list into the head). The current read must be
    // the full union; a stage that leaked into readers early, or a
    // publish that lost the staged rows, breaks the hash. The
    // isolation/audit/discard semantics are WapSpec's.
    row("tt16_wap_publish", wapLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT17: lossless type widening — half the table written with an
    // INT customer key, widened to BIGINT metadata-only, the other
    // half written wide. The full read must upcast the narrow era at
    // the scan and serve ONE bigint column; the oracle is the plain
    // relational result (custkey is bigint at the source). A widen
    // that rewrote data, dropped the narrow era, or read it as null
    // breaks the hash.
    row("tt17_widen_evolution", widenLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT18: merge-on-read positional deletes — two overlapping DV
    // commits with ZERO data files rewritten (v2's file set is
    // byte-identical to v4's; SnapshotMorDeleteSpec pins the mtimes).
    // Tallied per status at the pre-delete snapshot AND current, tt2's
    // shape: v2 must still see everything (history + the untouched
    // files), v4 must see both vectors applied exactly once — an
    // overlap double-count flips the counts, a missed vector the 'F'
    // row, a DV leak into time travel the v2 side.
    row("tt18_mor_delete", morLog,
      """SELECT 2 AS snap, o_orderstatus, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 4, o_orderstatus, count(*),
        |       CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders
        |WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 3
        |GROUP BY o_orderstatus
        |ORDER BY snap, o_orderstatus""".stripMargin) { (s, _, root) =>
      def tally(df: DataFrame, snap: Int) = df
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"))
        .withColumn("snap", lit(snap))
        .select("snap", "o_orderstatus", "n", "key_sum")
      tally(read(s, root, asOf = 2L), 2)
        .unionByName(tally(read(s, root), 4))
        .orderBy("snap", "o_orderstatus")
    },

    // TT19: DV compaction unlocks CoW — rewriteDeletes folds both
    // vectors into rewritten data files (read-invariant; the spec pins
    // changes()-empty across the fold), after which a partial CoW
    // delete is legal again and drops the 'O' rows. The oracle is the
    // final relational state; a fold that lost or resurrected rows, or
    // a CoW delete that ran against stale vectors, breaks the hash.
    row("tt19_mor_compaction", morCompactLog,
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 3
        |  AND o_orderstatus <> 'O'
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT20: the DV changelog — changes() across the first MoR commit
    // must be EXACTLY the 'F' rows as deletes (no inserts, no clean
    // rows read): the delta comes from the changed positions alone,
    // not a file diff (no file changed). The CDC contract incremental
    // consumers (IncrementalView) rely on, now under merge-on-read.
    row("tt20_mor_changelog", morLog, DeletedFRows) { (s, _, root) =>
      changes(s, root, 2L, 3L)
        .orderBy("o_orderkey")
    },

    // TT21: merge-on-read MERGE — tt5's exact upsert scenario through
    // mergeIntoMoR (matched rows die via a delete vector, the source
    // appends, zero pre-existing files rewritten) sharing tt5's oracle
    // VERBATIM: the CoW and MoR merge implementations must be
    // observationally identical. A matched row surviving (vector
    // missed), an update applied twice (append without the DV), or a
    // lost insert arm all break the hash.
    row("tt21_mor_merge", morMergeLog, UpsertResult) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT22: two-column box read over the Z-ordered layout. The oracle
    // is the plain two-predicate scan — the Morton rewrite and the
    // box pruning are layout/IO-only, so the answer must be identical
    // to DuckDB's full scan of the same table (ZOrderSpec separately
    // pins that the layout actually skips files).
    row("tt22_zorder_box_read", zorderLog,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 600
        |  AND o_totalprice BETWEEN 50000 AND 150000
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      readBox(s, root, Seq(
        ("o_custkey", Some("100"), Some("600")),
        ("o_totalprice", Some("50000"), Some("150000"))))
        .orderBy("o_orderkey")
    },

    // TT23: EQUALITY deletes — the scan-free delete form. The staged
    // log deletes every key ≡ 0 (mod 3) by KEY SET between the even and
    // odd appends, then status 'P' after both: the current read must
    // kill keys ≡ 0 (mod 6) (the evens the first delete predates — odd
    // multiples of 3, appended AFTER it, survive by the sequence rule)
    // and every 'P' row. A delete applied to the wrong era, a missed
    // anti-join, or a double-applied key all break the hash.
    row("tt23_eq_delete", eqLog,
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 3 = 0)
        |  AND o_orderstatus <> 'P'
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT24: equality-delete maintenance — tt23's scenario, then
    // rewriteEqualityDeletes converts the key sets to a positional
    // vector, rewriteDeletes folds it into data files, and a CoW
    // delete of the 'F' rows proves partial rewrites unlocked again.
    // Both rewrites must be read-invariant: the oracle is tt23's
    // relational answer minus the 'F' rows, so a resurrected key-set
    // row (stamped past its delete's sequence by a careless rewrite)
    // or a lost survivor breaks the hash.
    row("tt24_eq_rewrite", eqRewriteLog,
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 3 = 0)
        |  AND o_orderstatus NOT IN ('P', 'F')
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT25: scan-free equality MERGE — tt5's exact upsert scenario
    // through mergeIntoEqual (the key set retracts matched rows, the
    // source appends, ZERO existing files read or rewritten in the one
    // atomic commit), sharing tt5's oracle VERBATIM: the THIRD merge
    // implementation must be observationally identical to the CoW and
    // MoR-positional ones. A key set applied to the commit's own rows
    // (sequence bug), a missed retraction, or a lost insert arm all
    // break the hash.
    row("tt25_eq_merge", eqMergeLog, UpsertResult) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT26: the DSv2 catalog front door — the Spark side is PURE SQL
    // text over a path identifier with `VERSION AS OF`, resolved by
    // graft.sources.SnapshotCatalog through the same manifest the
    // library API pins (tt1 reads this exact snapshot via
    // read(asOf=2)); it must hash-match tt1's from-scratch oracle. A
    // catalog that resolved the wrong manifest, dropped the time
    // travel spec, or diverged from the library's MoR/field-id read
    // semantics breaks the hash.
    row("tt26_sql_catalog", ordersLog, FirstTwoBatches) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus
           |FROM snapcat.`$root` VERSION AS OF 2
           |ORDER BY o_orderkey""".stripMargin)
    },

    // TT27: hidden partitioning — the table declared `days(ts)` once;
    // the QUERY carries only a raw ts range, and the day-band transform
    // stats prune non-matching files at planning (HiddenPartitionSpec
    // proves the skip by deleting pruned files; this row proves the
    // answer equals the from-scratch filter). The residual filter
    // applies either way, so a routing or band bug flips rows, never
    // just performance.
    row("tt27_hidden_partition", partitionLog, TwoDayEvents) { (s, _, root) =>
      readBox(s, root, Seq(("ts",
        Some("2024-01-10 00:00:00"), Some("2024-01-11 23:59:59"))))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // TT28: branch refs + fast-forward publish — one main append, two
    // appends on a branch (invisible to main: the fixture asserts the
    // mid-state count), then ONE atomic fast-forward. The final read
    // must be the full table: a leaked branch commit, a lost one, or a
    // publish that merged instead of fast-forwarding all break the
    // hash. Divergence rejection, vacuum safety, and retention are
    // pinned in BranchRefSpec.
    row("tt28_branch_publish", branchLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT29: multi-log atomic commit — two logs seeded separately, then
    // one transaction appends a half into EACH; the union must be the
    // full table. A transaction that committed one side without the
    // other, or whose pending prepares leaked into a read, breaks the
    // hash; the crash matrix (torn prepare invisible, abort restores,
    // full-prepare rolls forward, late coordinator voided) is pinned
    // in TransactionSpec.
    row("tt29_multi_log_txn", txnLogs, AllOrders) { case (s, _, (a, b)) =>
      read(s, a).unionByName(read(s, b)).orderBy("o_orderkey")
    },

    // TT30: SQL MERGE INTO — tt5's exact upsert scenario as pure SQL
    // text over the DSv2 catalog, rewritten to the MoR commit protocol
    // (matched rows die via a delete vector, the source appends, zero
    // pre-existing files rewritten — SnapshotDmlSpec pins the write
    // shape), sharing tt5's oracle VERBATIM: the SQL door must be
    // observationally identical to all three library merge doors. A
    // rewrite that misbound a column, double-applied an arm, or
    // dropped the insert side breaks the hash.
    row("tt30_sql_merge", sqlMergeLog, UpsertResult) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT31: SQL CREATE TABLE AS SELECT with PARTITIONED BY — the table
    // is born, spec'd (days(ts)), and populated by ONE SQL statement;
    // the query carries only a raw ts range and must equal the
    // from-scratch filter (SnapshotDdlSpec pins the file-skip side).
    // Shares tt27's oracle VERBATIM: the SQL-declared spec must route
    // and read exactly as the library-declared one.
    row("tt31_sql_ctas", sqlCtasLog, TwoDayEvents) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT event_id, user_id, event_type FROM snapcat.`$root`
           |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND ts <= TIMESTAMP '2024-01-11 23:59:59'
           |ORDER BY event_id""".stripMargin)
    },

    // TT32: SQL UPDATE — a partial-column `UPDATE … SET … WHERE` as
    // pure SQL text, rewritten to one MoR commit (matched rows die via
    // a vector, updated rows append; SnapshotDmlSpec pins the write
    // shape). The oracle recomputes the update relationally: a
    // misbound assignment, a double-applied row, or a lost survivor
    // breaks the hash.
    row("tt32_sql_update", sqlUpdateLog,
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'U'
        |            ELSE o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT33: SQL ALTER TABLE — rename + add-column as pure SQL text,
    // each a metadata-only commit (zero data files touched —
    // SnapshotDdlSpec pins the file set), then a catalog read under
    // the evolved schema: old files serve the renamed column through
    // field ids and NULL for the added one. The oracle recomputes the
    // evolved view relationally.
    row("tt33_sql_alter", sqlAlterLog,
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(NULL AS VARCHAR) AS note
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT o_orderkey, status, note FROM snapcat.`$root`
           |ORDER BY o_orderkey""".stripMargin)
    },

    // TT34: the history METADATA table through SQL — `SELECT … FROM
    // snap.t.history` over tt3's exact staged log, sharing tt3's
    // oracle: the SQL introspection door must report the same commit
    // ledger the library API reports, answered from manifests alone
    // (SnapshotCatalogSpec proves zero data files are opened).
    row("tt34_sql_history", ordersLog, OrdersLogHistory,
        bench = false) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT snapshot_id, operation, n_rows
           |FROM snapcat.`$root`.history
           |ORDER BY snapshot_id""".stripMargin)
    },

    // TT35: the SQL PROCEDURE door — tt15's exact rollback scenario
    // executed as `CALL snap.system.rollback(…)` text, sharing tt15's
    // oracle VERBATIM: the CALL surface must commit exactly what the
    // library API commits (the other maintenance verbs are pinned
    // Spark-vs-library in SnapshotProcedureSpec).
    row("tt35_sql_call_rollback", sqlCallLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT36: SQL DELETE with an UNTRANSLATABLE predicate (modulo
    // arithmetic — no sources.Filter form exists, so the plain
    // SupportsDelete door would refuse it): the DML rewrite executes
    // it as the library's copy-on-write delete. The oracle recomputes
    // the survivors relationally — a dropped survivor, a row deleted
    // under the wrong conjunct, or a double-applied rewrite breaks
    // the hash.
    row("tt36_sql_delete_expr", sqlDeleteLog,
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE NOT (o_orderkey % 7 = 3 AND o_orderstatus <> 'F')
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT43: SQL DELETE with an UNCORRELATED SUBQUERY predicate — the
    // arm the CoW delete can never serve (its self-scan can't hold a
    // subquery): the MoR route evaluates `key IN (SELECT …)` as a
    // semi-join against the discovery frame and commits one delete
    // vector. The oracle recomputes the survivors relationally; a
    // mis-evaluated subquery or a row deleted under the wrong key
    // breaks the hash.
    row("tt43_sql_delete_subquery", sqlDeleteSubqLog,
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus
        |FROM orders o
        |WHERE o.o_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders
        |   WHERE o_orderpriority = '1-URGENT')
        |ORDER BY o.o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT42: the FULL write-audit-publish loop with row-level DML —
    // staged INSERTs plus a WAP UPDATE and a WAP DELETE (MoR vectors
    // in the BRANCH's manifest chain), audited by the session's own
    // reads, invisible to main, published by fast_forward. The oracle
    // recomputes the whole curated state relationally: a leaked
    // stage, a vector lost in the publish, or a branch-discovery bug
    // breaks the hash.
    row("tt42_sql_wap_dml", sqlWapDmlLog,
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'W'
        |            ELSE o_orderstatus END AS o_orderstatus
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 3)
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT41: multi-table transactions through SQL — tt29's exact
    // two-log scenario as `CALL begin_txn` / two INSERTs / `CALL
    // commit_txn`: the staged INSERTs buffer invisibly and land as ONE
    // two-phase, crash-recoverable commit. Shares tt29's oracle
    // VERBATIM: a torn half or a leaked stage breaks the hash.
    row("tt41_sql_txn", sqlTxnLogs, AllOrders) { case (s, _, (a, b)) =>
      read(s, a).unionByName(read(s, b)).orderBy("o_orderkey")
    },

    // TT40: batch CDC through SQL — tt20's exact DV-changelog window
    // read as the `changes` METADATA table (`SELECT * FROM
    // snap.t.changes` with the window set by session conf — the
    // pure-SQL route; `spark.read.option` works too). Shares tt20's
    // oracle VERBATIM: the SQL door must produce the library
    // changelog exactly.
    row("tt40_sql_changes", morLog, DeletedFRows) { (s, _, root) =>
      snapcat(s)
      // window via READER OPTIONS, not session confs — a leaked conf
      // would silently re-window every later default-window .changes
      // read in the shared session (the SET route is spec-covered
      // with a proper unset)
      s.read.option("fromId", "2").option("toId", "3")
        .table(s"snapcat.`$root`.changes")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "change")
        .orderBy("o_orderkey")
    },

    // TT51: timestamp-window CDC — tt40's exact changelog addressed by
    // COMMIT TIME instead of snapshot ids: `fromTs`/`toTs` resolve
    // through the snapshot log's manifest mtimes (the same
    // snapshotAtTime walk TIMESTAMP AS OF reads through), so a
    // consumer asks for "changes between 09:00 and 09:01" without
    // knowing ids. The fixture pins strictly-increasing commit times;
    // shares tt40's oracle VERBATIM — a mis-resolved boundary would
    // widen or shrink the window and break the hash.
    row("tt51_changes_by_time", morTsLog, DeletedFRows) { (s, _, root) =>
      snapcat(s)
      s.read
        .option("fromTs", commitTimeOf(s, root, 2L).toString)
        .option("toTs", commitTimeOf(s, root, 3L).toString)
        .table(s"snapcat.`$root`.changes")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "change")
        .orderBy("o_orderkey")
    },

    // TT38: SQL write-audit-publish — tt28's exact branch scenario
    // driven end-to-end from SQL: `spark.graft.wap.branch` routes
    // INSERT INTO onto an auto-forked branch (and the session's own
    // reads onto its head for auditing), plain sessions see main
    // untouched, `CALL system.fast_forward` publishes. Shares tt28's
    // oracle VERBATIM.
    row("tt38_sql_wap", sqlWapLog, AllOrders) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT37: runtime-filtered star join over a CATALOG table — the
    // fact's FILE LIST is pruned at run time by the dim's join keys
    // (SupportsRuntimeFiltering on the batch scan; the dim's key band
    // covers only the low orderkey files, so the scan drops the rest
    // before reading a byte — SnapshotBatchScanSpec proves strictly
    // fewer files planned and the dynamicpruning subquery in the
    // plan). The oracle recomputes the join relationally.
    row("tt37_runtime_pruned_join", dppLog,
      """SELECT o.o_orderkey, o.o_custkey, d.o_orderpriority
        |FROM orders o
        |JOIN (SELECT o_orderkey AS d_orderkey, o_orderpriority
        |      FROM orders
        |      WHERE o_orderkey <= 1500
        |        AND o_orderpriority = '1-URGENT') d
        |  ON o.o_orderkey = d.d_orderkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, dir, root) =>
      snapcat(s)
      Tables(s, dir, "orders")
        .select(col("o_orderkey").as("d_orderkey"),
          col("o_orderpriority"))
        .filter(col("o_orderkey") <= 1500 &&
          col("o_orderpriority") === "1-URGENT")
        .createOrReplaceTempView("tt37_dim")
      s.sql(
        s"""SELECT f.o_orderkey, f.o_custkey, d.o_orderpriority
           |FROM snapcat.`$root` f
           |JOIN tt37_dim d ON f.o_orderkey = d.d_orderkey
           |ORDER BY f.o_orderkey""".stripMargin)
    },

    // TT39: `MERGE … WITH SCHEMA EVOLUTION` — the source carries a
    // column the target lacks; Spark's analyzer widens the target
    // through the catalog's alterTable (the library's metadata-only
    // addColumn commit) and the merge itself lands as the normal MoR
    // commit. The oracle recomputes the evolved upsert relationally:
    // a lost NULL on a pre-existing row, a dropped source value, or an
    // un-widened schema breaks the hash.
    row("tt39_sql_merge_evolve", sqlMergeEvolveLog,
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'X'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |       CASE WHEN o_orderkey % 10 = 0
        |            THEN 'n' || CAST(o_custkey AS VARCHAR)
        |            ELSE NULL END AS o_note
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, 'N', 'new'
        |FROM orders WHERE o_orderkey % 10 = 1
        |ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT44: aggregate pushdown — an unfiltered COUNT(*)/MIN/MAX over
    // a catalog table answers from the MANIFEST alone (the physical
    // plan is a LocalTableScan; SnapshotAggPushdownSpec proves it the
    // strong way by deleting the data files). Runs over tt2/tt3's
    // staged log, whose final snapshot is a COPY-ON-WRITE delete —
    // the manifest counts must reflect the delete exactly. The oracle
    // recomputes all five aggregates relationally: an overcounted
    // dead row, a stale band, or a mis-parsed stat breaks the hash.
    row("tt44_sql_agg_pushdown", ordersLog,
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       min(o_orderstatus) AS min_status,
        |       max(o_orderstatus) AS max_status
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |       min(o_orderstatus) AS min_status,
           |       max(o_orderstatus) AS max_status
           |FROM snapcat.`$root`""".stripMargin)
    },

    // TT45: storage-partitioned join — two co-bucketed fanout tables
    // join through SQL with ZERO shuffle on either side (both scans
    // report KeyGroupedPartitioning(bucket(8, key)); the catalog's V2
    // bucket function proves compatibility; SnapshotSpjSpec pins the
    // exchange-free plan). At 100 TB this is the fact⋈fact shape that
    // otherwise re-shuffles both tables per join. The MERGE hint fixes
    // the join strategy so the timed plan is the SPJ sort-merge, not a
    // small-SF broadcast. The oracle recomputes the join relationally.
    row("tt45_spj_join", spjLogs, OrdersWithPriority) { case (s, _, (fact, dim)) =>
      snapcat(s)
      // the SPJ opt-in: report KeyGroupedPartitioning (one task per
      // bucket) for THIS plan only — the scan builders read the conf
      // at physical planning, so force the plan while it's set and
      // restore the caller's own value before returning (a leaked
      // opt-in would key-group every later point-banded scan in the
      // shared Verify/Bench session)
      withSessionConf(s, "spark.graft.catalog.preserveGrouping", "true") {
        val df = s.sql(
          s"""SELECT /*+ MERGE(f) */ f.o_orderkey, f.o_custkey,
             |       d.o_orderpriority
             |FROM snapcat.`$fact` f
             |JOIN snapcat.`$dim` d ON f.o_orderkey = d.o_orderkey
             |ORDER BY f.o_orderkey""".stripMargin)
        df.queryExecution.executedPlan // pin the key-grouped plan
        df
      }
    },

    // TT49: storage-partitioned join over a TIME transform — two
    // day-fanout tables (`days(d)` spec) join through SQL with zero
    // Exchange on either side: the scans report
    // KeyGroupedPartitioning(days(d)) and the catalog's V2 `days`
    // function proves both sides partition compatibly
    // (SnapshotSpjSpec pins the exchange-free plan and the
    // function-vs-writer value equivalence). The oracle recomputes the
    // derived-day join relationally.
    row("tt49_spj_days", spjDaysLogs,
      """SELECT CAST(DATE '1970-01-01' AS TIMESTAMP)
        |         + (o_orderkey % 8) * INTERVAL 1 DAY AS d,
        |       o_orderkey, o_custkey, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin) { case (s, _, (fact, dim)) =>
      snapcat(s)
      withSessionConf(s, "spark.graft.catalog.preserveGrouping", "true") {
        // the join carries the orderkey equi-pair BESIDE the day key;
        // Spark's co-partition check demands partition keys cover ALL
        // clustering keys unless this (documented) switch relaxes it
        // to the subset case — days(d) ⊆ {d, o_orderkey}
        withSessionConf(s,
          "spark.sql.requireAllClusterKeysForCoPartition", "false") {
          val df = s.sql(
            s"""SELECT /*+ MERGE(f) */ f.d, f.o_orderkey, f.o_custkey,
               |       m.o_orderpriority
               |FROM snapcat.`$fact` f
               |JOIN snapcat.`$dim` m
               |  ON f.d = m.d AND f.o_orderkey = m.o_orderkey
               |ORDER BY f.o_orderkey""".stripMargin)
          df.queryExecution.executedPlan // pin the key-grouped plan
          df
        }
      }
    },

    // TT50: GROUPED aggregate pushdown — per-day COUNT/MIN/MAX over a
    // day-fanout table answers from the MANIFEST alone (every kept
    // file is point-banded on d, so each group is a set of whole
    // files; the plan is a LocalTableScan — SnapshotAggPushdownSpec
    // proves it survives data-file deletion). The oracle recomputes
    // the grouped aggregate relationally.
    row("tt50_sql_agg_group_pushdown", spjDaysLogs,
      """SELECT CAST(DATE '1970-01-01' AS TIMESTAMP)
        |         + (o_orderkey % 8) * INTERVAL 1 DAY AS d,
        |       CAST(count(*) AS BIGINT) AS n,
        |       min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders GROUP BY 1 ORDER BY d""".stripMargin) { case (s, _, (fact, _)) =>
      snapcat(s)
      s.sql(
        s"""SELECT d, count(*) AS n, min(o_orderkey) AS mn,
           |       max(o_orderkey) AS mx
           |FROM snapcat.`$fact` GROUP BY d ORDER BY d""".stripMargin)
    },

    // TT52: the `snap.t.partitions` metadata table — per-partition
    // live row counts from the manifest's transform point bands, the
    // table a compaction/maintenance planner reads to find skewed or
    // fragmented partitions without scanning data (Iceberg's
    // partitions table). The oracle recomputes the per-day counts
    // relationally; file counts/bytes are metadata-only facts the
    // spec asserts instead.
    row("tt52_sql_partitions_table", spjDaysLogs,
      """SELECT concat('days(d)=', CAST(o_orderkey % 8 AS VARCHAR))
        |         AS partition,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY partition""".stripMargin) {
      case (s, _, (fact, _)) =>
        snapcat(s)
        s.sql(s"SELECT partition, n_rows FROM snapcat.`$fact`.partitions " +
          "ORDER BY partition")
    },

    // TT46: limit pushdown into catalog file planning — a bare
    // `LIMIT n` probe plans only the file prefix covering n rows
    // (SnapshotLimitPushdownSpec pins kept=1 of 3 and every refusal
    // arm). The count-over-limit shape keeps the oracle deterministic
    // while the inner scan exercises the truncation; a truncation that
    // under-delivered rows breaks the count.
    row("tt46_sql_limit_probe", ordersLog,
      """SELECT count(*) AS n FROM (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderstatus <> 'F' LIMIT 500)""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT count(*) AS n FROM (
           |  SELECT o_orderkey FROM snapcat.`$root` LIMIT 500)""".stripMargin)
    },

    // TT47: SQL DELETE with a CORRELATED EXISTS — the canonical
    // retention statement. The binder rebinds the subquery's outer
    // references onto the MoR discovery frame; Catalyst decorrelates
    // to a semi-join, one delete vector commits. The oracle recomputes
    // the survivors with the same correlated NOT EXISTS in DuckDB — a
    // mis-decorrelated probe or a row deleted under the wrong key
    // breaks the hash.
    row("tt47_sql_delete_correlated", sqlCorrDeleteLog,
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus
        |FROM orders o
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM orders i
        |   WHERE i.o_orderkey = o.o_orderkey
        |   AND i.o_orderpriority = '1-URGENT')
        |ORDER BY o.o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT47B: the UPDATE twin — a correlated SCALAR subquery in SET
    // (decorrelates to a left join + projection) under a plain WHERE
    // gate; rows outside the gate must ride through byte-identical.
    row("tt47b_sql_update_correlated", sqlCorrUpdateLog,
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey % 10 = 0
        |       THEN substring(o_orderpriority, 1, 1)
        |       ELSE o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT48: the `snap.t.stats` metadata table — exact live counts,
    // null counts, and KMV NDVs (exact below the sketch size, the
    // fixture's columns by construction) plus stat-band min/max, all
    // answered from MANIFEST bytes alone. The oracle recomputes every
    // cell relationally in DuckDB: a sketch that under-merged across
    // lists, a null mis-counted into the NDV, or a band folded under
    // the wrong order breaks the hash.
    row("tt48_sql_stats_table", statsTableLog,
      """SELECT 'o_orderpriority' AS col_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv,
        |  CAST(min(o_orderpriority) AS VARCHAR) AS min_val,
        |  CAST(max(o_orderpriority) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(min(o_orderstatus) AS VARCHAR),
        |  CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'status_n', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN nullif(o_orderstatus, 'F') IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT nullif(o_orderstatus, 'F')) AS BIGINT),
        |  CAST(min(nullif(o_orderstatus, 'F')) AS VARCHAR),
        |  CAST(max(nullif(o_orderstatus, 'F')) AS VARCHAR)
        |FROM orders
        |ORDER BY col_name""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(s"SELECT col_name, n_rows, null_count, ndv, min_val, " +
        s"max_val FROM snapcat.`$root`.stats ORDER BY col_name")
    },

    // TT53: PRUNED aggregate pushdown — COUNT(*)/COUNT(col)/MIN/MAX
    // under a PARTITION predicate still answer from the MANIFEST alone:
    // the day-equality filter is file-decidable (point-banded d + zero
    // per-file nulls), so the scan claims it EXACT, drops the other
    // days' files, and the aggregate folds per-file row/null counts of
    // exactly the kept set (the plan is a LocalTableScan; the spec
    // proves zero data files opened by deleting them). COUNT(col)
    // works because null counts ride each FILE line — the list-level
    // fold alone cannot answer a pruned set. The oracle recomputes the
    // filtered aggregates relationally.
    row("tt53_sql_count_pruned", countPrunedLog,
      """SELECT count(*) AS n,
        |  count(CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |             ELSE o_custkey END) AS n_cust,
        |  min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders WHERE o_orderkey % 8 = 1""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT count(*) AS n, count(o_custkey) AS n_cust,
           |       min(o_orderkey) AS mn, max(o_orderkey) AS mx
           |FROM snapcat.`$root`
           |WHERE d = TIMESTAMP '1970-01-02 00:00:00'""".stripMargin)
    },

    // TT56: the `snap.t.refs` metadata table — tags and branches with
    // the snapshots they pin and the staged commit count, answered
    // from the refs directory + manifest headers alone (Iceberg's refs
    // table; the WAP audit door: what is staged and where it would
    // land). The fixture pins a tag at v1 and stages one commit on a
    // branch forked at v2; the oracle states those deterministic
    // facts. SnapshotRefsTableSpec covers the fast-forward transition
    // and commit-time columns.
    row("tt56_sql_refs", refsLog,
      """SELECT 'audit' AS name, 'branch' AS type,
        |       CAST(2 AS BIGINT) AS snapshot_id,
        |       CAST(1 AS BIGINT) AS commits
        |UNION ALL
        |SELECT 'q1-close', 'tag', CAST(1 AS BIGINT),
        |       CAST(NULL AS BIGINT)
        |ORDER BY name""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(s"SELECT name, type, snapshot_id, commits " +
        s"FROM snapcat.`$root`.refs ORDER BY name")
    },

    // TT58: MERGE with a CORRELATED EXISTS in a WHEN MATCHED condition
    // — tt47's decorrelation machinery reaching the merge arms: the
    // arm condition rides an envelope past CheckAnalysis, the binder
    // rebinds its outer references onto the join's discovery frame,
    // and the EXISTS plans as a semi-join inside the arm filter. The
    // oracle recomputes the conditional upsert relationally: a
    // mis-decorrelated probe updates the wrong rows and breaks the
    // hash.
    row("tt58_sql_merge_correlated", sqlCorrMergeLog,
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 3 = 0 AND o_orderpriority = '1-URGENT'
        |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root).orderBy("o_orderkey")
    },

    // TT55: equi-height histograms from the manifest — the skewed-dim
    // join planned under CBO with the per-file quantile boundaries
    // folded table-level (zero data reads at plan time). 95% of d.w
    // sits in [1,10]: min/max-uniform estimates `w <= 10` at ~0.5%
    // and wrongly broadcasts the dim; the histogram estimates ~95%
    // and keeps the shuffle join (SnapshotHistogramSpec pins the
    // flip both ways). The oracle recomputes the filtered join
    // relationally — the plan may differ, the count may not.
    row("tt55_sql_stats_histogram", histLogs,
      """SELECT count(*) AS n FROM
        |  (SELECT o_orderkey % 2000 AS k FROM orders) f
        |JOIN
        |  (SELECT o_orderkey AS k,
        |          CASE WHEN o_orderkey % 20 = 0
        |               THEN o_orderkey % 2000
        |               ELSE o_orderkey % 10 + 1 END AS w
        |   FROM orders) d
        |ON f.k = d.k
        |WHERE d.w <= 10""".stripMargin) { case (s, _, (fact, dim)) =>
      snapcat(s)
      withSessionConf(s, "spark.sql.cbo.enabled", "true") {
        val df = s.sql(
          s"""SELECT count(*) AS n
             |FROM snapcat.`$fact` f
             |JOIN snapcat.`$dim` d ON f.k = d.k
             |WHERE d.w <= 10""".stripMargin)
        df.queryExecution.executedPlan // pin the CBO plan
        df
      }
    },

    // TT54: partially-clustered storage-partitioned join — the skew
    // arm SPJ was missing: plain key-grouping reads ONE task per
    // partition value, so a hot day serializes onto one core; with
    // Spark's partially-clustered distribution the hot day's files
    // stay separate tasks on the fact side while the dim's groups
    // replicate to match — and the join still plans ZERO Exchange
    // (SnapshotSpjSkewSpec pins >1 hot-key task + the exchange-free
    // subtree). The oracle recomputes the skewed join relationally.
    row("tt54_spj_skew", spjSkewLogs,
      """SELECT CAST(DATE '1970-01-01' AS TIMESTAMP)
        |         + (CASE WHEN o_orderkey % 2 = 0 THEN 0
        |                 ELSE o_orderkey % 8 END) * INTERVAL 1 DAY AS d,
        |       o_orderkey, o_custkey, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin) { case (s, _, (fact, dim)) =>
      snapcat(s)
      withSessionConf(s, "spark.graft.catalog.preserveGrouping", "true") {
        withSessionConf(s,
          "spark.sql.requireAllClusterKeysForCoPartition", "false") {
          withSessionConf(s,
            "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true") {
            withSessionConf(s, "spark.sql.sources.v2.bucketing" +
              ".partiallyClusteredDistribution.enabled", "true") {
              val df = s.sql(
                s"""SELECT /*+ MERGE(f) */ f.d, f.o_orderkey, f.o_custkey,
                   |       f.o_orderpriority
                   |FROM snapcat.`$fact` f
                   |JOIN snapcat.`$dim` m
                   |  ON f.d = m.d AND f.o_orderkey = m.o_orderkey
                   |ORDER BY f.o_orderkey""".stripMargin)
              df.queryExecution.executedPlan // pin the SPJ plan
              df
            }
          }
        }
      }
    },

    // TT57: NESTED column evolution — `ALTER TABLE … RENAME COLUMN
    // meta.name TO label` is a metadata-only commit (field-id
    // preserved under the new dotted path, zero data movement), and
    // files from BOTH eras read through the current schema: the old
    // era's struct resolves its inner name by id and re-labels
    // positionally. The document-shaped evolution the docstore tier
    // needs. The oracle recomputes both eras relationally; a lost
    // pre-rename value (silent NULL) or a mis-resolved inner name
    // breaks the hash.
    row("tt57_nested_rename", sqlNestedEvolveLog,
      """SELECT o_orderkey, o_orderstatus AS label, o_custkey AS qty
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      read(s, root)
        .select(col("o_orderkey"),
          col("meta.label").as("label"), col("meta.qty").as("qty"))
        .orderBy("o_orderkey")
    },

    // TT59: nested evolution THROUGH ARRAYS — `ALTER TABLE … RENAME
    // COLUMN ingredients.element.name TO label` and `ADD COLUMN
    // ingredients.element.unit` are metadata-only commits: the dotted
    // field-id paths gain an `element` step through the container, so
    // struct fields inside `array<struct<…>>` (the reference's own
    // recipe document shape) resolve by id across eras exactly like
    // direct struct children. Era-A files read the renamed field by
    // id and NULL for the added one; era-B files read natively. The
    // oracle recomputes both exploded element rows relationally — a
    // silent NULL on the old era or a mis-resolved element name
    // breaks the hash.
    row("tt59_array_element_rename", sqlArrayEvolveLog,
      """SELECT o_orderkey, label, qty, unit FROM (
        |  SELECT o_orderkey, o_orderstatus AS label,
        |         CAST(o_custkey AS BIGINT) AS qty,
        |         CASE WHEN o_orderkey % 2 = 1 THEN 'g' END AS unit
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority AS label,
        |         CAST(o_orderkey % 100 AS BIGINT) AS qty,
        |         CASE WHEN o_orderkey % 2 = 1 THEN 'g' END AS unit
        |  FROM orders)
        |ORDER BY o_orderkey, label, qty""".stripMargin) { (s, _, root) =>
      read(s, root)
        .select(col("o_orderkey"), explode(col("ingredients")).as("ing"))
        .select(col("o_orderkey"), col("ing.label").as("label"),
          col("ing.qty").as("qty"), col("ing.unit").as("unit"))
        .orderBy("o_orderkey", "label", "qty")
    },

    // TT60: COUNT under outstanding DELETE VECTORS — the dashboard
    // count tt53 made manifest-only now stays manifest-only on a
    // MoR-dirty table: each DV records its per-target kill count, so
    // count(*) = Σ(rows − kills) and count(col) = Σ(rows − kills) over
    // null-free files, exactly, with ZERO data files opened (the spec
    // deletes the data files to prove it). Before this, any
    // outstanding DV dropped the table back to full scans until
    // compaction. The oracle recomputes the post-delete counts
    // relationally.
    row("tt60_count_under_dv", sqlDvCountLog,
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust
        |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin) { (s, _, root) =>
      snapcat(s)
      val df = s.sql(
        s"""SELECT count(*) AS n_rows, count(o_custkey) AS n_cust
           |FROM snapcat.`$root`""".stripMargin)
      df.queryExecution.executedPlan // pin the manifest-only plan
      df
    },

    // TT61: SQL-VISIBLE histograms — `snap.t.stats.histogram` serves
    // the SAME merged equi-height boundaries the scan feeds CBO, so a
    // user tuning a skewed workload can audit what the optimizer sees
    // (round 15 had them CBO-only). Deterministic projection: the
    // boundary COUNT is HistBins+1 and the first/last boundaries are
    // the column's exact min/max (GK quantile sketches keep extremes
    // exactly; the merge preserves them) — recomputed relationally by
    // the oracle. Interior boundaries are estimation-grade by design
    // and pinned in SnapshotHistogramSpec instead.
    row("tt61_sql_stats_histogram_serve", sqlDvCountLog,
      """SELECT 'o_custkey' AS col_name, CAST(17 AS BIGINT) AS n_bounds,
        |       CAST(min(o_custkey) AS BIGINT) AS lo,
        |       CAST(max(o_custkey) AS BIGINT) AS hi
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', CAST(17 AS BIGINT),
        |       CAST(min(o_orderkey) AS BIGINT),
        |       CAST(max(o_orderkey) AS BIGINT)
        |FROM orders
        |ORDER BY col_name""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(
        s"""SELECT col_name, CAST(size(histogram) AS BIGINT) AS n_bounds,
           |       CAST(histogram[0] AS BIGINT) AS lo,
           |       CAST(histogram[${HistBins}] AS BIGINT) AS hi
           |FROM snapcat.`$root`.stats
           |WHERE histogram IS NOT NULL ORDER BY col_name""".stripMargin)
    },

    // TT62: NULL-AUDIT pushdown — a bare `WHERE c IS NULL` claims
    // EXACT from per-file null counts alone (no point band needed:
    // all-null files are uniformly TRUE, null-free files uniformly
    // FALSE and drop), so the data-quality dashboard's null count
    // answers from the MANIFEST with zero data files opened — at any
    // table size. The oracle recomputes the null populations
    // relationally.
    row("tt62_null_audit_pushdown", sqlNullAuditLog,
      """SELECT count(*) AS n_null FROM orders
        |WHERE o_orderkey % 2 = 0""".stripMargin) { (s, _, root) =>
      snapcat(s)
      val df = s.sql(
        s"""SELECT count(*) AS n_null FROM snapcat.`$root`
           |WHERE note IS NULL""".stripMargin)
      df.queryExecution.executedPlan // pin the manifest-only plan
      df
    },

    // TT63: DISTRIBUTED SQL WRITE — INSERT INTO a bucket-spec'd,
    // sort-ordered table takes the true DSv2 batch write: Spark plans
    // ONE AQE-rebalanced exchange on the bucket transform (small
    // partitions coalesce toward the advisory size, skewed values
    // split) plus the declared in-task sort, executors write final
    // parquet directly, and the manifest commit stamps bands + sorted
    // marks. The V1 bridge hands InsertableRelation the UNPREPARED
    // query, so this path is what makes write clustering REAL at
    // scale. Oracle: the written table IS the source.
    row("tt63_sql_write_distribution", sqlWriteDistLog, OrdersInCents) {
      (s, _, root) =>
        snapcat(s)
        s.sql(s"""SELECT o_orderkey, o_custkey, cents
                 |FROM snapcat.`$root` ORDER BY o_orderkey""".stripMargin)
    },

    // TT64: SORTED STORAGE-PARTITIONED JOIN — both sides co-bucketed
    // fanout AND declared sorted on the join key, every file stamped:
    // the scans report KeyGroupedPartitioning + per-partition ordering
    // (SupportsReportOrdering), so the SMJ plans with ZERO Exchange
    // and ZERO Sort on either side (plan pinned in
    // SnapshotSortOrderSpec). At 100 TB this is the difference between
    // re-sorting both sides per join and merging them in place.
    row("tt64_sorted_spj", sortedSpjLogs, OrdersWithPriority) {
      case (s, _, (fact, dim)) =>
        snapcat(s)
        withSessionConf(s, "spark.graft.catalog.preserveGrouping", "true") {
          val df = s.sql(
            s"""SELECT /*+ MERGE(f) */ f.o_orderkey, f.o_custkey,
               |       d.o_orderpriority
               |FROM snapcat.`$fact` f
               |JOIN snapcat.`$dim` d ON f.o_orderkey = d.o_orderkey
               |ORDER BY f.o_orderkey""".stripMargin)
          df.queryExecution.executedPlan // pin the sort-free keyed plan
          df
        }
    },

    // TT65: SORTED COMPACTION — a table whose history predates its
    // sort-order declaration (round-robin files: overlapping bands,
    // no stamps) is rewritten by `CALL system.optimize_sorted` into
    // stamped, interior-sorted, chain-disjoint files; scans report
    // ordering from then on (SnapshotSortOrderSpec pins the flip and
    // the resulting sort-free SMJ). The oracle proves the rewrite
    // preserved every row — at 100 TB this is the ONE-TIME sort that
    // every later merge join gets to skip.
    row("tt65_optimize_sorted", optimizeSortedLog, OrdersInCents) {
      (s, _, root) =>
        snapcat(s)
        s.sql(s"""SELECT o_orderkey, o_custkey, cents
                 |FROM snapcat.`$root` ORDER BY o_orderkey""".stripMargin)
    },

    // TT66: PARTITION SPEC EVOLUTION through the SQL door — half the
    // table written under bucket(8, o_custkey), the spec changed by
    // `CALL system.set_partition_spec` (metadata-only, zero rewrite),
    // the other half written under days(o_orderdate); each era prunes
    // under the stats it recorded (HiddenPartitionSpec pins the
    // mixed-era kept-file sets). At 100 TB this is how a table
    // re-partitions without rewriting a byte — exactly Iceberg's spec
    // evolution contract. The oracle proves content survived the
    // spec change and the mixed-era read.
    row("tt66_spec_evolution", specEvolutionLog,
      """SELECT o_orderkey, o_custkey, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, _, root) =>
      snapcat(s)
      s.sql(s"""SELECT o_orderkey, o_custkey, o_orderdate
               |FROM snapcat.`$root` ORDER BY o_orderkey""".stripMargin)
    }
  )
}
