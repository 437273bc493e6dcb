package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.operators.SnapshotLog

/** The DSv2 catalog front door: SQL reads (time travel included) must
  * be the LIBRARY read — same rows, same MoR semantics, same pruning —
  * with file skipping observable through the planned scan.
  */
class SnapshotCatalogSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapcat",
      classOf[SnapshotCatalog].getName)
    "snapcat"
  }

  /** Three appends in disjoint key ranges (one file each), then a MoR
    * delete of one key — the full read matrix in one tiny log.
    */
  private def freshLog(): String = {
    import spark.implicits._
    val root = graft.TempDirs.create("snapcat").resolve("log").toString
    Seq(Seq((1L, "a"), (2L, "b")), Seq((10L, "c"), (11L, "d")),
      Seq((20L, "e"), (21L, "f"))).foreach { batch =>
      SnapshotLog.append(spark, root, batch.toDF("k", "v").coalesce(1))
    }
    root
  }

  private def sqlRead(root: String, suffix: String = ""): org.apache.spark.sql.DataFrame =
    spark.sql(s"SELECT * FROM $cat.`$root` $suffix")

  test("SQL read over the catalog matches the library read") {
    val root = freshLog()
    assert(rowSet(sqlRead(root)) == rowSet(SnapshotLog.read(spark, root)))
  }

  test("VERSION AS OF pins the manifest the library pins") {
    val root = freshLog()
    assert(rowSet(sqlRead(root, "VERSION AS OF 2")) ==
      rowSet(SnapshotLog.read(spark, root, asOf = 2L)))
    assert(sqlRead(root, "VERSION AS OF 1").count() == 2L)
  }

  test("TIMESTAMP AS OF resolves by manifest publish time") {
    val root = freshLog()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manifests are write-once; pin their mtimes so the test is exact
    (1 to 3).foreach { i =>
      fs.setTimes(new Path(f"$root/snap/v$i%08d.manifest"), i * 1000L, -1) }
    val df = sqlRead(root, "TIMESTAMP AS OF '1970-01-01 00:00:02.5'")
    assert(rowSet(df) == rowSet(SnapshotLog.read(spark, root, asOf = 2L)))
    intercept[Exception] { sqlRead(root, "TIMESTAMP AS OF '1970-01-01'").collect() }
  }

  test("pushed range predicate prunes files from the manifest") {
    val root = freshLog()
    val df = sqlRead(root).filter("k >= 10 AND k <= 11")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.totalFiles == 3)
    assert(scan.keptFiles.size == 1, "band pruning must keep one file")
    assert(rowSet(df) == Seq(Seq("10", "c"), Seq("11", "d")))
  }

  test("equality predicate on a bloomed column consults per-file blooms") {
    import spark.implicits._
    val root = graft.TempDirs.create("snapcat_bloom").resolve("log").toString
    // two files with OVERLAPPING k ranges: band pruning alone keeps
    // both; only the bloom can skip the file not containing 5
    val bs = SnapshotLog.BloomSpec(Seq("k"), expectedPerFile = 16L)
    SnapshotLog.appendBloomed(spark, root,
      Seq((1L, "a"), (9L, "b")).toDF("k", "v").coalesce(1), bs)
    SnapshotLog.appendBloomed(spark, root,
      Seq((2L, "c"), (8L, "d")).toDF("k", "v").coalesce(1), bs)
    val df = sqlRead(root).filter("k = 9")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.totalFiles == 2 && scan.keptFiles.size == 1)
    assert(rowSet(df) == Seq(Seq("9", "b")))
  }

  test("untranslatable residual predicates still evaluate correctly") {
    val root = freshLog()
    val df = sqlRead(root).filter("k % 10 = 1")
    assert(rowSet(df) == Seq(Seq("1", "a"), Seq("11", "d"), Seq("21", "f")))
  }

  test("column pruning reaches the scan") {
    val root = freshLog()
    // a column no expression references never reaches the read schema
    val dfNarrow = spark.sql(s"SELECT v FROM $cat.`$root`")
    assert(SnapshotCatalog.scanOf(dfNarrow).readSchema().fieldNames.toSeq
      == Seq("v"))
    // the batch scan's parquet pushdown is row-group inexact, so a
    // filter column stays required (Spark's residual Filter re-applies
    // it exactly — the FileSourceScan contract)
    val df = spark.sql(s"SELECT v FROM $cat.`$root` WHERE k = 1")
    assert(rowSet(df) == Seq(Seq("a")))
  }

  test("SQL reads see merge-on-read deletes and renames") {
    val root = freshLog()
    SnapshotLog.deleteWhereMoR(spark, root, org.apache.spark.sql.functions.col("k") === 10L)
    assert(rowSet(sqlRead(root)) == rowSet(SnapshotLog.read(spark, root)))
    assert(sqlRead(root).count() == 5L)
    SnapshotLog.renameColumn(spark, root, "v", "val")
    val renamed = sqlRead(root)
    assert(renamed.columns.toSeq == Seq("k", "val"))
    assert(renamed.count() == 5L)
    // the pre-rename VERSION still reads under ITS schema
    assert(sqlRead(root, "VERSION AS OF 3").columns.toSeq == Seq("k", "v"))
  }

  test("INSERT INTO / INSERT OVERWRITE go through the library commits") {
    val root = freshLog()
    spark.sql(s"INSERT INTO $cat.`$root` VALUES (99, 'z')")
    assert(SnapshotLog.read(spark, root).count() == 7L)
    assert(rowSet(spark.sql(s"SELECT v FROM $cat.`$root` WHERE k = 99")) ==
      Seq(Seq("z")))
    // the SQL insert is a real snapshot commit: time travel sees it
    val before = SnapshotLog.currentId(spark, root) - 1
    assert(sqlRead(root, s"VERSION AS OF $before").count() == 6L)
    spark.sql(s"INSERT OVERWRITE $cat.`$root` VALUES (1, 'only')")
    assert(rowSet(SnapshotLog.read(spark, root)) == Seq(Seq("1", "only")))
    // history is still there (overwrite is a commit, not a purge)
    assert(sqlRead(root, s"VERSION AS OF $before").count() == 6L)
  }

  test("writes to a time-travel snapshot are refused") {
    val root = freshLog()
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.`$root` VERSION AS OF 1 VALUES (0, 'x')")
    }
    // parser may reject time-travel DML outright, or our builder does —
    // either way the write must not land
    assert(SnapshotLog.read(spark, root).count() == 6L)
  }

  test("DELETE FROM executes as a copy-on-write commit") {
    val root = freshLog()
    spark.sql(s"DELETE FROM $cat.`$root` WHERE k >= 20")
    assert(rowSet(SnapshotLog.read(spark, root)).map(_.toList).toSet ==
      Set(List("1", "a"), List("2", "b"), List("10", "c"), List("11", "d")))
    // the delete is a snapshot: the pre-delete state is still readable
    assert(sqlRead(root, "VERSION AS OF 3").count() == 6L)
    assert(SnapshotLog.operationOf(spark, root,
      SnapshotLog.currentId(spark, root)) == "delete")
  }

  test("VERSION AS OF resolves tag names as refs") {
    val root = freshLog()
    SnapshotLog.tag(spark, root, "q3-close", 2L)
    assert(rowSet(sqlRead(root, "VERSION AS OF 'q3-close'")) ==
      rowSet(SnapshotLog.read(spark, root, asOf = 2L)))
    intercept[Exception] { sqlRead(root, "VERSION AS OF 'nope'").collect() }
  }

  test("format-style batch read resolves to the same table") {
    val root = freshLog()
    val df = spark.read.format(classOf[SnapshotBatch].getName)
      .option("root", root).load()
    assert(rowSet(df) == rowSet(SnapshotLog.read(spark, root)))
    val v2 = spark.read.format(classOf[SnapshotBatch].getName)
      .option("root", root).option("asOf", "2").load()
    assert(rowSet(v2) == rowSet(SnapshotLog.read(spark, root, asOf = 2L)))
    // pushdown reaches the same scan machinery
    val pruned = df.filter("k >= 20")
    assert(SnapshotCatalog.scanOf(pruned).keptFiles.size <
      SnapshotCatalog.scanOf(pruned).totalFiles)
  }

  test("string IN envelopes fold under UTF-8 byte order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = graft.TempDirs.create("snapcat_utf8").resolve("log").toString
    // U+FFFD vs U+1F600: UTF-16 units order them 😀 < � (surrogates sort
    // below [U+E000,U+FFFF]) while UTF-8 bytes — the stat-band order —
    // have � (EF BF BD) < 😀 (F0 9F 98 80). A JVM-String envelope would
    // invert (lo > hi) and prune the matching file.
    SnapshotLog.append(spark, root,
      Seq((1L, "�"), (2L, "x")).toDF("k", "v").coalesce(1))
    val df = sqlRead(root).filter(col("v").isin("�", "😀"))
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.keptFiles.size == 1,
      "the file containing a supplementary-plane IN match must be kept")
    assert(rowSet(df) == Seq(Seq("1", "�")))
  }

  test("a current-head scan pins its snapshot at plan time") {
    val root = freshLog()
    val qe = sqlRead(root).queryExecution
    qe.executedPlan // plan now: the scan resolves + prunes the head HERE
    // a commit lands between plan and execute — the planned read must
    // still be the PLANNED snapshot, not a mix of old file list and new
    // head's delete vectors
    SnapshotLog.deleteWhereMoR(spark, root,
      org.apache.spark.sql.functions.col("k") === 1L)
    assert(qe.toRdd.count() == 6L,
      "the planned scan must read the snapshot it was planned against")
    assert(sqlRead(root).count() == 5L, "a fresh read sees the delete")
  }

  test("a loaded table reports ONE snapshot's schema, spec and sort order") {
    val root = freshLog()
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[SnapshotCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, root)
    val held = catalog.loadTable(ident)
    assert(held.schema.fieldNames.toSeq == Seq("k", "v"))
    // layout commits land after the load
    SnapshotLog.setSortOrder(spark, root, Seq(SnapshotLog.SortField("k")))
    SnapshotLog.setPartitionSpec(spark, root,
      Seq(SnapshotLog.PartField("bucket", "k", 4)))
    assert(held.partitioning().isEmpty,
      "the held table must report the spec of the snapshot it loaded")
    assert(!held.properties().containsKey(SnapshotCatalog.SortOrderKey),
      "the held table must report the sort order of the snapshot it loaded")
    val fresh = catalog.loadTable(ident)
    assert(fresh.partitioning().map(_.toString).toSeq == Seq("bucket(4, k)"))
    assert(fresh.properties().get(SnapshotCatalog.SortOrderKey) == "k")
  }

  test("metadata tables answer from manifests with zero data files opened") {
    val root = freshLog()
    SnapshotLog.deleteWhereMoR(spark, root,
      org.apache.spark.sql.functions.col("k") === 10L)
    val hist = spark.sql(
      s"SELECT snapshot_id, operation, n_files FROM $cat.`$root`.history " +
        "ORDER BY snapshot_id")
    assert(rowSet(hist) == Seq(Seq("1", "append", "1"),
      Seq("2", "append", "2"), Seq("3", "append", "3"),
      Seq("4", "mor-delete", "3")))
    // snapshots is an alias of the same ledger
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`.snapshots")
      .head().getLong(0) == 4L)
    val files = spark.sql(
      s"SELECT path, n_rows, bytes, sorted_by FROM $cat.`$root`.files")
    assert(files.count() == 3L)
    assert(files.select("n_rows").collect().map(_.getLong(0)).sum == 6L)
    // layout-audit columns: real byte sizes, NULL stamp (no declared
    // sort anywhere in this fixture)
    assert(files.select("bytes").collect().forall(_.getLong(0) > 0L))
    assert(files.filter(files("sorted_by").isNotNull).isEmpty)
    // THE metadata-table property: delete every data file — the
    // introspection queries must still answer (they never open data)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.snapshot(spark, root, 4L).files.foreach(f =>
      fs.delete(new Path(s"$root/${f.path}"), false))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`.history")
      .head().getLong(0) == 4L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`.files")
      .head().getLong(0) == 3L)
  }

  test("aggregate over the catalog table matches the oracle shape") {
    val root = freshLog()
    val n = spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`").head().getLong(0)
    assert(n == 6L)
  }

  test("the changes meta table reads the row-level CDC window from SQL") {
    import spark.implicits._
    val root = freshLog()
    SnapshotLog.deleteWhereMoR(spark, root,
      org.apache.spark.sql.functions.col("k") === 10L)
    SnapshotLog.append(spark, root, Seq((30L, "g")).toDF("k", "v"))
    // default window = the LAST transition (the append)
    assert(rowSet(spark.sql(
      s"SELECT k, v, change FROM $cat.`$root`.changes"))
      == Seq(Seq("30", "g", "insert")))
    // options-clause window = the MoR delete transition: the pure-SQL
    // route reaches the meta table's scan options
    assert(rowSet(spark.sql(
      s"SELECT k, v, change FROM $cat.`$root`.changes " +
        "WITH ('fromId' = '3', 'toId' = '4')").limit(10))
      == Seq(Seq("10", "c", "delete")))
    // reader-option window = everything since empty: snapshot 5's live
    // content (k=10's delete applied) as inserts
    assert(spark.read.option("fromId", "0").option("toId", "5")
      .table(s"$cat.`$root`.changes").count() == 6L)
    // TIMESTAMP window: pin distinct commit times, then address the
    // same MoR-delete transition by time — millis and ISO forms both;
    // an explicit id wins over its timestamp twin
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def mpath(i: Long) = new org.apache.hadoop.fs.Path(
      f"$root/snap/v$i%08d.manifest")
    val base = fs.getFileStatus(mpath(1L)).getModificationTime
    (1L to 5L).foreach(i => fs.setTimes(mpath(i), base + (i - 1) * 60000L, -1L))
    val (t3, t4) = (base + 2 * 60000L, base + 3 * 60000L)
    assert(rowSet(spark.read
      .option("fromTs", t3.toString).option("toTs", t4.toString)
      .table(s"$cat.`$root`.changes")
      .selectExpr("k", "v", "change"))
      == Seq(Seq("10", "c", "delete")))
    val iso = java.time.Instant.ofEpochMilli(t4).toString
    assert(rowSet(spark.read
      .option("fromTs", java.time.Instant.ofEpochMilli(t3).toString)
      .option("toTs", iso)
      .table(s"$cat.`$root`.changes")
      .selectExpr("k", "v", "change"))
      == Seq(Seq("10", "c", "delete")))
    assert(spark.read
      .option("fromId", "0").option("fromTs", t3.toString)
      .option("toTs", t4.toString)
      .table(s"$cat.`$root`.changes").count() == 5L,
      "explicit id beats its timestamp twin")
    // a pre-first-commit timestamp refuses loudly, never a wrong window
    intercept[Exception] {
      spark.read.option("fromTs", (base - 10000L).toString)
        .option("toTs", t4.toString)
        .table(s"$cat.`$root`.changes").count()
    }
  }

  test("the partitions meta table reports live rows/files/bytes per tuple") {
    import spark.implicits._
    val root = graft.TempDirs.create("cat_parts").resolve("log").toString
    val prior = spark.conf.getOption("spark.graft.write.fanout")
    spark.conf.set("spark.graft.write.fanout", "true")
    try {
      SnapshotLog.createTable(spark, root,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
        Seq(SnapshotLog.PartField("bucket", "k", 4)))
      SnapshotLog.append(spark, root,
        (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.write.fanout", v)
      case None => spark.conf.unset("spark.graft.write.fanout")
    }
    val rows = spark.sql(
      s"SELECT * FROM $cat.`$root`.partitions ORDER BY partition").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(2)).sum == 100L)
    assert(rows.forall(_.getLong(1) >= 1L), "file counts present")
    assert(rows.forall(_.getLong(3) > 0L), "manifest byte sizes present")
    assert(rows.forall(_.getString(0).startsWith("bucket(4,k)=")))
    // MoR delete: live counts subtract the DV kills per file, exactly
    SnapshotLog.deleteWhereMoR(spark, root,
      org.apache.spark.sql.functions.col("k") <= 10L)
    val after = spark.sql(
      s"SELECT sum(n_rows) FROM $cat.`$root`.partitions").head().getLong(0)
    assert(after == 90L)
    // an unpartitioned table reports one tuple
    val flat = graft.TempDirs.create("cat_parts_flat").resolve("log").toString
    SnapshotLog.append(spark, flat, Seq((1L, "a")).toDF("k", "v"))
    val f = spark.sql(s"SELECT * FROM $cat.`$flat`.partitions").head()
    assert(f.getString(0) == "(unpartitioned)" && f.getLong(2) == 1L)
  }

  test("WAP: inserts stage on the branch, audit reads see them, publish lands them") {
    val root = freshLog()
    spark.conf.set("spark.graft.wap.branch", "wapcheck")
    try {
      spark.sql(s"INSERT INTO $cat.`$root` VALUES (500, 'staged')")
      // audit: this session reads its own staged write
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`")
        .head().getLong(0) == 7L)
      // OVERWRITE under WAP refuses — staging is append-only (the
      // branch write builder deliberately lacks truncate/overwrite, so
      // Spark rejects at analysis)
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $cat.`$root` VALUES (1, 'x')")
      }
      assert(e.getMessage.contains("WAP") ||
        e.getMessage.contains("does not support overwrite"))
    } finally spark.conf.unset("spark.graft.wap.branch")
    // conf-less session state: main untouched
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`")
      .head().getLong(0) == 6L)
    assert(SnapshotLog.readBranch(spark, root, "wapcheck").count() == 7L)
    SnapshotLog.fastForward(spark, root, "wapcheck")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`")
      .head().getLong(0) == 7L)
  }

  test("a real table named like a meta suffix beats the meta fallback") {
    import spark.implicits._
    val parent = freshLog()
    // a GENUINE table at <parent>/history — the meta suffixes are a
    // fallback, not reserved names, so this stays addressable
    val histRoot = s"$parent/history"
    SnapshotLog.append(spark, histRoot,
      Seq((100L, "real")).toDF("k", "v"))
    val out = spark.sql(s"SELECT k, v FROM $cat.`$parent`.`history`")
    assert(rowSet(out) == Seq(Seq("100", "real")))
    // and the meta table still answers where no real table shadows it
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$parent`.snapshots")
      .head().getLong(0) >= 3L)
  }
}
