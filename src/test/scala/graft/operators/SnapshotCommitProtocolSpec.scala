package graft.operators

import graft.SparkSpec
import java.io.IOException
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

/** `crashfs:` — the local filesystem under its own scheme, so the
  * commit protocol takes the generic `!exists && rename` publish. Its
  * switch fails the next manifest tmp create, file-list create or
  * data-file create (the file is left behind, as a crash leaves it) or
  * the publish rename of a manifest tmp. Every open is counted by path.
  */
class CrashFs extends FilterFileSystem(new CrashFs.Local) {
  override def getScheme: String = CrashFs.Scheme

  private def armed(mode: String, p: Path): Boolean =
    CrashFs.failing == mode && CrashFs.crashes(mode, p.getName) &&
      (mode != "data" || p.toUri.getPath.contains("/data/"))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (armed("create", f) || armed("list", f) || armed("data", f)) {
      out.close()
      throw new IOException(s"injected crash creating $f")
    }
    out
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (armed("rename", src)) throw new IOException(s"injected crash renaming $src")
    else super.rename(src, dst)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CrashFs.opens.merge(f.toUri.getPath, 1, (a: Int, b: Int) => a + b)
    super.open(f, bufferSize)
  }
}

object CrashFs {
  val Scheme = "crashfs"
  /** "create", "rename", "list" (the file-list create), "data" (the
    * create of a `.parquet` file under `data/`) or "" (off).
    */
  @volatile var failing: String = ""

  /** Whether crash mode `mode` fires on a file named `name`. */
  def crashes(mode: String, name: String): Boolean =
    if (mode == "list") name.startsWith("l_") && name.endsWith(".list")
    else if (mode == "data") name.endsWith(".parquet")
    else name.contains(".manifest.tmp.")

  /** Opens per local path since the last clear. */
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }
}

/** Commit-protocol hardening from the round-10 adversarial pass:
  * beyond-head crash replay of a staged publish, NaN-stat degradation
  * in the metadata path, tmp-manifest debris reclamation, the
  * rename-aware band re-key on staged splices, a crash injected at
  * each step of the publish and at the file-list write, and the number
  * of times a commit opens its head manifest.
  */
class SnapshotCommitProtocolSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot() =
    Files.createTempDirectory("graft_cproto").resolve("log").toString
  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def crashRootOf(root: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    s"${CrashFs.Scheme}://$root"
  }

  /** For each crash point in `modes`, fresh log: `setUp` on the plain
    * root, then `verb` on the same directory under `crashfs:` — once
    * crashing, once clean. The crash must leave the previous snapshot
    * reading exactly, the clean retry must commit, and
    * [[SnapshotLog.vacuumOrphans]] must reclaim the stranded file (tmp
    * manifest or file list) once it ages.
    */
  private def survivesCrashes(setUp: String => Unit,
      modes: Seq[String] = Seq("create", "rename"))(verb: String => Long): Unit = {
    for (mode <- modes) {
      val root = newRoot()
      setUp(root)
      val head = SnapshotLog.currentId(spark, root)
      val before = rowSet(SnapshotLog.read(spark, root))
      val crashRoot = crashRootOf(root)
      val f = fs(root)
      def snapFiles() = f.listStatus(new Path(s"$root/snap")).map(_.getPath)
        .filter(p => CrashFs.crashes(mode, p.getName)).toSet
      val existing = snapFiles()
      CrashFs.failing = mode
      val e = try intercept[IOException](verb(crashRoot))
        finally CrashFs.failing = ""
      assert(e.getMessage.contains("injected crash"))
      assert(SnapshotLog.currentId(spark, root) === head, s"$mode crash moved the head")
      assert(rowSet(SnapshotLog.read(spark, root)) === before)
      val stranded = (snapFiles() -- existing).toSeq
      assert(stranded.length === 1, s"$mode crash should strand one file")
      assert(verb(crashRoot) === head + 1, s"commit after a $mode crash")
      val after = rowSet(SnapshotLog.read(spark, root))
      f.setTimes(stranded.head, System.currentTimeMillis() - 7200000L, -1)
      SnapshotLog.vacuumOrphans(spark, root, graceMs = 3600000L)
      assert(!f.exists(stranded.head), s"$mode crash file not reclaimed")
      assert(rowSet(SnapshotLog.read(spark, root)) === after)
    }
  }

  private def base(root: String): Unit =
    SnapshotLog.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))

  test("a crash at the publish of an append leaves the previous snapshot") {
    survivesCrashes(base)(r =>
      SnapshotLog.append(spark, r, Seq((3L, "c")).toDF("k", "v")))
  }

  test("a crash at the publish of a merge-on-read delete leaves the previous snapshot") {
    survivesCrashes(base)(r =>
      SnapshotLog.deleteWhereMoR(spark, r, col("k") === 1L))
  }

  test("a crash at the publish of an equality merge leaves the previous snapshot") {
    survivesCrashes(base)(r => SnapshotLog.mergeIntoEqual(spark, r,
      Seq((2L, "B"), (4L, "d")).toDF("k", "v"), Seq("k")))
  }

  test("a crash at the publish of a sort-order change leaves the previous snapshot") {
    survivesCrashes(base)(r =>
      SnapshotLog.setSortOrder(spark, r, Seq(SnapshotLog.SortField("k"))))
  }

  test("a crash at the publish of a fast-forward leaves the previous snapshot") {
    survivesCrashes { root =>
      base(root)
      SnapshotLog.createBranch(spark, root, "ff")
      SnapshotLog.appendToBranch(spark, root, "ff", Seq((5L, "e")).toDF("k", "v"))
    }(r => SnapshotLog.fastForward(spark, r, "ff"))
  }

  test("a crash at the file-list write of a copy-on-write delete leaves the previous snapshot") {
    survivesCrashes(base, Seq("list"))(r =>
      SnapshotLog.deleteWhere(spark, r, col("k") === 1L))
  }

  test("a crash at the file-list write of an optimize leaves the previous snapshot") {
    survivesCrashes(base, Seq("list"))(r => SnapshotLog.optimize(spark, r, "k", 1))
  }

  /** A crash at the create of a data file: `verb` on a fresh log under
    * `crashfs:` fails, the head and the rows stay as `setUp` left them,
    * the same verb then commits, and [[SnapshotLog.vacuumOrphans]]
    * reclaims the one data dir the crash stranded once it ages.
    */
  private def survivesDataCrash(setUp: String => Unit)(verb: String => Long): Unit = {
    val root = newRoot()
    setUp(root)
    val head = SnapshotLog.currentId(spark, root)
    val before = rowSet(SnapshotLog.read(spark, root))
    val crashRoot = crashRootOf(root)
    val f = fs(root)
    def dataDirs() = f.listStatus(new Path(s"$root/data")).map(_.getPath).toSet
    val existing = dataDirs()
    CrashFs.failing = "data"
    val e = try intercept[Exception](verb(crashRoot))
      finally CrashFs.failing = ""
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected crash")), e)
    assert(SnapshotLog.currentId(spark, root) === head, "data crash moved the head")
    assert(rowSet(SnapshotLog.read(spark, root)) === before)
    val stranded = (dataDirs() -- existing).toSeq
    assert(stranded.length === 1, s"data crash should strand one dir: $stranded")
    assert(verb(crashRoot) === head + 1, "commit after a data crash")
    val after = rowSet(SnapshotLog.read(spark, root))
    assert(after.size > before.size)
    f.setTimes(stranded.head, System.currentTimeMillis() - 7200000L, -1)
    SnapshotLog.vacuumOrphans(spark, root, graceMs = 3600000L)
    assert(!f.exists(stranded.head), "data crash dir not reclaimed")
    assert(rowSet(SnapshotLog.read(spark, root)) === after)
  }

  private def bucketed(root: String): Unit = {
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
      Seq(SnapshotLog.PartField("bucket", "k", 4)))
    SnapshotLog.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
  }

  test("a crash at the data write of an append leaves the previous snapshot") {
    survivesDataCrash(base)(r =>
      SnapshotLog.append(spark, r, Seq((3L, "c"), (4L, "d")).toDF("k", "v")))
  }

  test("a crash at the data write of a fanout append leaves the previous snapshot") {
    withConfs("spark.graft.write.fanout" -> "true") {
      survivesDataCrash(bucketed)(r => SnapshotLog.append(spark, r,
        Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v")))
    }
  }

  test("a crash at the data write of a SQL INSERT into a bucketed table leaves the previous snapshot") {
    // a catalog keeps the root it was first loaded with: the crash and
    // the clean retry both write the one log this test creates
    var cat = ""
    survivesDataCrash(bucketed) { r =>
      if (cat.isEmpty) {
        cat = "cprotoins"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.SnapshotCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.root", r.stripSuffix("/log"))
      }
      spark.sql(s"INSERT INTO $cat.log VALUES (3, 'c'), (4, 'd'), (5, 'e')")
      SnapshotLog.currentId(spark, r)
    }
  }

  test("vacuumOrphans keeps the aged data dir of a live fanout append") {
    val root = newRoot()
    withConfs("spark.graft.write.fanout" -> "true")(bucketed(root))
    val before = rowSet(SnapshotLog.read(spark, root))
    val f = fs(root)
    f.listStatus(new Path(s"$root/data")).foreach(st =>
      f.setTimes(st.getPath, System.currentTimeMillis() - 7200000L, -1))
    assert(SnapshotLog.vacuumOrphans(spark, root, graceMs = 3600000L) === 0)
    assert(rowSet(SnapshotLog.read(spark, root)) === before)
  }

  /** Opens of snapshot `id`'s manifest under `root` while `body` runs. */
  private def manifestOpens(root: String, id: Long)(body: => Unit): Int = {
    CrashFs.opens.clear()
    body
    CrashFs.opens.getOrDefault(f"$root/snap/v$id%08d.manifest", 0)
  }

  test("optimize opens its head manifest at most twice: one header, one parse") {
    val root = newRoot()
    base(root)
    SnapshotLog.append(spark, root, Seq((3L, "c")).toDF("k", "v"))
    val crashRoot = crashRootOf(root)
    val n = manifestOpens(root, 2L)(SnapshotLog.optimize(spark, crashRoot, "k", 1))
    assert(n <= 2, s"optimize opened the head manifest $n times")
    assert(SnapshotLog.read(spark, root).count() === 3L)
  }

  test("a SQL DELETE through the merge-on-read door opens its head manifest at most twice") {
    val root = newRoot()
    base(root)
    // an outstanding vector: the table is merge-on-read from here on
    SnapshotLog.deleteWhereMoR(spark, root, col("k") === 2L)
    spark.conf.set("spark.sql.catalog.cprotomor",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cprotomor.root",
      crashRootOf(new Path(root).getParent.toUri.getPath))
    Seq(1L).toDF("k").createOrReplaceTempView("cproto_gone")
    // the subquery predicate takes SnapshotDml's MoR discovery route
    val stmt = "DELETE FROM cprotomor.log t WHERE EXISTS " +
      "(SELECT 1 FROM cproto_gone g WHERE g.k = t.k)"
    // analysis loads the table through the catalog; count the run alone
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(stmt))
    qe.analyzed
    val n = manifestOpens(root, 2L)(qe.commandExecuted)
    assert(n <= 2, s"the DELETE opened the head manifest $n times")
    assert(SnapshotLog.currentId(spark, root) === 3L)
    assert(SnapshotLog.read(spark, root).count() === 0L)
  }

  test("a catalog load of a current-head table opens its head manifest at most twice") {
    val root = newRoot()
    base(root)
    SnapshotLog.append(spark, root, Seq((3L, "c")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.cprotoload",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cprotoload.root",
      crashRootOf(new Path(root).getParent.toUri.getPath))
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan("SELECT k, v FROM cprotoload.log"))
    // one header read for the head id, one parse of that manifest
    val n = manifestOpens(root, 2L)(qe.analyzed)
    assert(n <= 2, s"loading the table opened the head manifest $n times")
    assert(spark.sql("SELECT count(*) FROM cprotoload.log").head().getLong(0) === 3L)
  }

  test("a plain SQL DELETE opens its head manifest at most twice, with or without vectors") {
    for (outstanding <- Seq(false, true)) {
      val root = newRoot()
      base(root)
      // with a vector outstanding the DELETE takes the merge-on-read
      // delete, without one the copy-on-write delete
      if (outstanding) SnapshotLog.deleteWhereMoR(spark, root, col("k") === 2L)
      else SnapshotLog.append(spark, root, Seq((2L, "c")).toDF("k", "v"))
      // a catalog keeps the root it was first loaded with: one per log
      val cat = s"cprotodel_$outstanding"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root",
        crashRootOf(new Path(root).getParent.toUri.getPath))
      val qe = spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(s"DELETE FROM $cat.log WHERE k = 1"))
      qe.analyzed
      val n = manifestOpens(root, 2L)(qe.commandExecuted)
      assert(n <= 2, s"the DELETE (outstanding vectors: $outstanding) " +
        s"opened the head manifest $n times")
      assert(SnapshotLog.currentId(spark, root) === 3L)
      assert(SnapshotLog.read(spark, root).filter(col("k") === 1L).count() === 0L)
      assert(SnapshotLog.hasOutstandingDeletes(spark, root) === outstanding)
    }
  }

  test("replaying a crashed staged publish after a CoW rewrite does not re-splice") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1L, "base"), (2L, "base")).toDF("k", "v"))
    val key = SnapshotLog.stageAppend(spark, root,
      Seq((10L, "staged"), (11L, "staged")).toDF("k", "v"))
    // capture the descriptor to simulate a publish that crashed after
    // the manifest rename but before deleting the descriptor
    val f = fs(root)
    val desc = f.listStatus(new Path(s"$root/snap")).map(_.getPath)
      .find(_.getName.endsWith(".staged")).get
    val bytes = {
      val in = f.open(desc)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    SnapshotLog.publishStaged(spark, root, key)
    // a CoW delete dissolves the staged list out of the head while one
    // staged row lives on
    SnapshotLog.deleteWhere(spark, root, col("k") === 11L)
    val want = SnapshotLog.read(spark, root)
      .orderBy("k").collect().toSeq
    // crash replay: the descriptor reappears; publishStaged must see
    // the list in HISTORY (not just the head) and only clean up
    val out = f.create(desc, false)
    try out.write(bytes.getBytes("UTF-8")) finally out.close()
    SnapshotLog.publishStaged(spark, root, key)
    assert(SnapshotLog.read(spark, root).orderBy("k").collect().toSeq === want)
    assert(!f.exists(desc))
  }

  test("statsSummary degrades NaN double stats to null bounds instead of throwing") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1L, 1.5), (2L, Double.NaN)).toDF("k", "x"))
    // the contract under an unparseable "NaN" stat is DEGRADE, never
    // throw: the query completes and the row count still answers
    val row = SnapshotLog.statsSummary(spark, root, Seq("x"))
      .filter(col("col_name") === "x").head()
    assert(row.getAs[Long]("n_rows") === 2L)
  }

  test("vacuumOrphans reclaims aged stranded tmp manifests") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val f = fs(root)
    val tmp = new Path(s"$root/snap/v00000099.manifest.tmp.deadbeef")
    val out = f.create(tmp, false)
    try out.write("stranded".getBytes("UTF-8")) finally out.close()
    f.setTimes(tmp, System.currentTimeMillis() - 7200000L, -1)
    SnapshotLog.vacuumOrphans(spark, root, graceMs = 3600000L)
    assert(!f.exists(tmp), "aged tmp manifest should be reclaimed")
    // the table still reads
    assert(SnapshotLog.read(spark, root).count() === 1L)
  }

  test("publishStaged re-keys staged band stats through a rename") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "a"))
    val key = SnapshotLog.stageAppend(spark, root,
      Seq((3L, 100L), (4L, 200L)).toDF("k", "a"))
    SnapshotLog.renameColumn(spark, root, "a", "b")
    SnapshotLog.publishStaged(spark, root, key)
    // all four rows read under the new name
    val got = SnapshotLog.read(spark, root)
      .orderBy("k").select("b").as[Long].collect().toSeq
    assert(got === Seq(10L, 20L, 100L, 200L))
    // the re-keyed band lets a b-range read that excludes the staged
    // band prune the staged list's files — and a read inside it finds
    // the staged rows
    val lo = SnapshotLog.readRange(spark, root, "b", Some("100"), Some("200"))
      .select("k").as[Long].collect().toSet
    assert(lo === Set(3L, 4L))
    val keptNarrow = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("b", Some("10"), Some("20"))))
    val keptAll = SnapshotLog.resolve(spark, root).files
    assert(keptNarrow.size < keptAll.size,
      s"band re-key should let the narrow read skip the staged list " +
        s"(${keptNarrow.size} vs ${keptAll.size})")
  }
}
