package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.SnapshotLog

/** The catalog's V2 per-file batch scan: same rows as the library read
  * under every schema/MoR state, vectorized when clean, and — the
  * point of its existence — RUNTIME file pruning: a star join's dim
  * keys re-prune the fact's FILE LIST before any fact bytes are read.
  */
class SnapshotBatchScanSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapbat",
      classOf[SnapshotCatalog].getName)
    "snapbat"
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Three single-file appends in disjoint key ranges. */
  private def freshLog(tag: String): String = {
    import spark.implicits._
    val root = graft.TempDirs.create(s"batscan_$tag").resolve("log").toString
    Seq(1L to 10L, 101L to 110L, 201L to 210L).foreach { ks =>
      SnapshotLog.append(spark, root,
        ks.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    }
    root
  }

  test("input_file_name() names each row's file on the columnar and row paths") {
    val root = freshLog("ifn")
    // rows per manifest-relative file; the three files pack into ONE
    // task, so the holder must move per file
    def perFile(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map { r =>
        val f = r.getString(0)
        f.substring(f.lastIndexOf("/data/") + 1) -> r.getLong(1)
      }.toMap
    val q = s"SELECT input_file_name(), count(*) FROM $cat.`$root` GROUP BY 1"
    val files = SnapshotLog.snapshot(spark, root, 3L).files
    val byFile = files.map(f => f.path -> f.rows).toMap
    // clean identity scan: vectorized
    assert(spark.sql(s"SELECT input_file_name(), k FROM $cat.`$root`")
      .queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(perFile(spark.sql(q)) === byFile)
    // a delete vector puts the dirty file on the row path
    SnapshotLog.deleteWhereMoR(spark, root, col("k") === 105L)
    val dirty = files.find(_.stats("k")._1 == "101").get.path
    val live = byFile.updated(dirty, byFile(dirty) - 1)
    assert(perFile(spark.sql(q)) === live)
    // the library read answers the same
    assert(perFile(SnapshotLog.read(spark, root)
      .groupBy(org.apache.spark.sql.functions.input_file_name()).count()) === live)
  }

  test("batch scan plans manifest-sized partitions and matches the library read") {
    val root = freshLog("basic")
    val df = spark.sql(s"SELECT * FROM $cat.`$root`")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.isInstanceOf[SnapshotBatchScan], "default path is the V2 scan")
    val parts = scan.asInstanceOf[SnapshotBatchScan].toBatch
      .planInputPartitions()
    // three tiny files bin-pack into ONE task under the default
    // 128MB maxPartitionBytes; every file is a slice of some partition
    assert(parts.map(_.asInstanceOf[SnapshotFilePartition].slices.length)
      .sum == 3)
    assert(parts.length == 1,
      s"3 small files pack into one task, got ${parts.length}")
    assert(rowSet(df) == rowSet(SnapshotLog.read(spark, root)))
    // vectorized: the physical plan reads columnar batches
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "clean identity scan should be vectorized")
    // a tightened budget splits back to one task per file — sizes are
    // the committer-recorded manifest bytes, no filesystem calls
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val df2 = spark.sql(s"SELECT * FROM $cat.`$root`")
      assert(SnapshotCatalog.scanOf(df2).asInstanceOf[SnapshotBatchScan]
        .toBatch.planInputPartitions().length == 3)
      assert(rowSet(df2) == rowSet(df))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("legacy manifests without byte sizes still read (estimate + executor stat)") {
    val root = freshLog("legacy")
    val before = rowSet(spark.sql(s"SELECT * FROM $cat.`$root`"))
    // strip the 6th (bytes) field from every list file — the exact
    // shape of a pre-bytes manifest
    val f = fs(root)
    f.listStatus(new Path(s"$root/snap")).filter(
      _.getPath.getName.endsWith(".list")).foreach { st =>
      val in = f.open(st.getPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val stripped = text.split('\n').map { l =>
        val cols = l.split('\t')
        // pre-bytes manifests ended at the ids field (5 columns);
        // drop bytes AND the per-file meta behind it
        if (cols.length >= 6) cols.take(5).mkString("\t") else l
      }.mkString("\n")
      f.delete(st.getPath, false)
      val out = f.create(st.getPath, true)
      try out.write(stripped.getBytes("UTF-8")) finally out.close()
    }
    spark.catalog.clearCache()
    val df = spark.sql(s"SELECT * FROM $cat.`$root`")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.keptFiles.forall(_.bytes == 0L), "legacy entries carry no size")
    assert(rowSet(df) == before)
  }

  test("merge-on-read delete vectors apply per file") {
    val root = freshLog("mor")
    SnapshotLog.deleteWhereMoR(spark, root,
      col("k") % 2 === 0L && col("k") < 100L)
    val df = spark.sql(s"SELECT * FROM $cat.`$root`")
    assert(rowSet(df) == rowSet(SnapshotLog.read(spark, root)))
    assert(df.count() == 25L)
    // positions survive a second vector on the same file
    SnapshotLog.deleteWhereMoR(spark, root, col("k") === 1L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.`$root`")
      .head().getLong(0) == 24L)
  }

  test("a shared DV dir never leaks positions across target files") {
    val root = freshLog("dvshare")
    // ONE MoR delete hitting ALL THREE files writes one DV dir whose
    // parquet rows mix every target's coordinates — each file's reader
    // must adopt only its OWN positions (the pushed t_path filter is
    // row-group inexact; position 0 of file 1 must not kill position 0
    // of files 2 and 3)
    SnapshotLog.deleteWhereMoR(spark, root,
      col("k").isin(1L, 101L, 201L))
    val df = spark.sql(s"SELECT * FROM $cat.`$root` ORDER BY k")
    assert(rowSet(df) == rowSet(SnapshotLog.read(spark, root)))
    assert(df.count() == 27L)
    // the three SURVIVORS at the shared dead position's neighbors
    assert(df.filter(col("k").isin(2L, 102L, 202L)).count() == 3L)
  }

  test("clean files in a dirty group emit rows of the declared width") {
    val root = freshLog("width")
    // dirty ONE of the three same-schema files: the shared group reads
    // with the row-index column appended, and the clean files must
    // still project it away (a phantom trailing field breaks any
    // consumer that re-materializes rows from the schema, e.g. a
    // shuffle) — assert through the reader contract directly
    SnapshotLog.deleteWhereMoR(spark, root, col("k") === 1L)
    val df = spark.sql(s"SELECT k, v FROM $cat.`$root`")
    val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
    val batch = scan.toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      while (r.next()) assert(r.get().numFields == 2,
        s"partition $p emitted a row of ${r.get().numFields} fields")
      r.close()
    }
    // and the aggregate over a real shuffle still answers
    assert(spark.sql(
      s"SELECT count(DISTINCT v) AS n FROM $cat.`$root`")
      .head().getLong(0) == 29L)
  }

  test("renamed and evolved schemas project per file group") {
    import spark.implicits._
    val root = freshLog("evo")
    SnapshotLog.renameColumn(spark, root, "v", "name")
    SnapshotLog.addColumn(spark, root, "score",
      org.apache.spark.sql.types.DoubleType)
    SnapshotLog.append(spark, root,
      Seq((301L, "n301", 1.5)).toDF("k", "name", "score"))
    val df = spark.sql(s"SELECT k, name, score FROM $cat.`$root`")
    assert(rowSet(df) == rowSet(SnapshotLog.read(spark, root)))
    assert(df.filter(col("k") === 1L).select("name").head().getString(0)
      == "v1")
    assert(df.filter(col("score").isNotNull).count() == 1L)
  }

  test("time travel and branch pins read through the batch scan") {
    import spark.implicits._
    val root = freshLog("pins")
    val v2 = spark.sql(s"SELECT * FROM $cat.`$root` VERSION AS OF 2")
    assert(SnapshotCatalog.scanOf(v2).isInstanceOf[SnapshotBatchScan])
    assert(v2.count() == 20L)
    SnapshotLog.createBranch(spark, root, "wip")
    SnapshotLog.appendToBranch(spark, root, "wip",
      Seq((900L, "b")).toDF("k", "v"))
    val br = spark.sql(s"SELECT * FROM $cat.`$root` VERSION AS OF 'wip'")
    assert(br.count() == 31L)
    assert(spark.sql(s"SELECT * FROM $cat.`$root`").count() == 30L)
  }

  test("outstanding equality deletes read through the batch scan") {
    import spark.implicits._
    val root = freshLog("eq")
    SnapshotLog.deleteWhereEqual(spark, root, Seq((1L)).toDF("k"))
    val df = spark.sql(s"SELECT * FROM $cat.`$root`")
    assert(SnapshotCatalog.scanOf(df).isInstanceOf[SnapshotBatchScan],
      "eq-delete state applies its key sets inside the batch scan")
    assert(df.count() == 29L)
    SnapshotLog.rewriteEqualityDeletes(spark, root)
    val df2 = spark.sql(s"SELECT * FROM $cat.`$root`")
    assert(SnapshotCatalog.scanOf(df2).isInstanceOf[SnapshotBatchScan])
    assert(df2.count() == 29L)
  }

  test("empty tables and self-joins read correctly through the batch scan") {
    // empty table: zero files, zero partitions, schema intact
    val empty = graft.TempDirs.create("batscan_empty").resolve("log").toString
    SnapshotLog.createTable(spark, empty,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
      Seq.empty)
    val e = spark.sql(s"SELECT * FROM $cat.`$empty`")
    assert(e.count() == 0L)
    assert(e.schema.fieldNames.toSeq == Seq("k", "v"))
    // self-join: two independent scan instances of one table
    val root = freshLog("self")
    val df = spark.sql(
      s"""SELECT a.k, b.v FROM $cat.`$root` a
         |JOIN $cat.`$root` b ON a.k = b.k WHERE a.k <= 2""".stripMargin)
    assert(rowSet(df) == Seq(Seq("1", "v1"), Seq("2", "v2")))
  }

  /** A star-shaped fixture: the FACT is big enough that the dim
    * broadcasts (DPP reuses that broadcast for the pruning subquery —
    * the 100 TB shape), three fact files in disjoint key bands, and a
    * PARQUET-backed dim (a LocalRelation dim folds its filter away and
    * no selective filter means no DPP insertion).
    */
  private def starFixture(tag: String): (String, String) = {
    import spark.implicits._
    val root = graft.TempDirs.create(s"batstar_$tag").resolve("log").toString
    Seq(1L to 4000L, 100001L to 104000L, 200001L to 204000L).foreach { ks =>
      SnapshotLog.append(spark, root,
        ks.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    }
    val dimDir = graft.TempDirs.create(s"batstar_dim_$tag")
      .resolve("dim").toString
    (1L to 8L).map(k => (k, if (k <= 4) "keep" else "drop"))
      .toDF("d_k", "d_tag").write.parquet(dimDir)
    (root, dimDir)
  }

  test("runtime filtering prunes the fact file list from the dim's keys") {
    val (root, dimDir) = starFixture("dpp")
    spark.read.parquet(dimDir).createOrReplaceTempView("batscan_dim")
    val df = spark.sql(
      s"""SELECT f.k, f.v, d.d_tag
         |FROM $cat.`$root` f JOIN batscan_dim d ON f.k = d.d_k
         |WHERE d.d_tag = 'keep'""".stripMargin)
    val out = rowSet(df)
    assert(out == Seq(Seq("1", "v1", "keep"), Seq("2", "v2", "keep"),
      Seq("3", "v3", "keep"), Seq("4", "v4", "keep")))
    val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
    assert(scan.runtimeDroppedFiles >= 2,
      s"dim keys span one file band; got runtimeDropped=" +
        s"${scan.runtimeDroppedFiles}, kept=${scan.keptFiles.size}")
    assert(df.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      "the dim-side subquery must be visible in the plan")
  }

  test("runtime In-sets prune through hidden BUCKET transform bands") {
    import spark.implicits._
    val root = graft.TempDirs.create("batscan_bkt").resolve("log").toString
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try SnapshotLog.appendPartitioned(spark, root,
      (1L to 20000L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq(SnapshotLog.PartField("bucket", "k", 8)))
    finally spark.conf.set(key, old)
    val dimDir = graft.TempDirs.create("batscan_bkt_dim")
      .resolve("dim").toString
    // a handful of keys that all land in the SAME hash bucket — band
    // stats can't prune these (keys spread the full range) but the
    // bucket transform bands can
    val probe = (1L to 20000L).filter(k =>
      SnapshotLog.bucketOfValue(
        org.apache.spark.sql.types.LongType, k.toString, 8).contains(3L))
      .take(4)
    probe.map(k => (k, "hit")).toDF("d_k", "d_tag")
      .write.parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("batscan_bkt_dim")
    val df = spark.sql(
      s"""SELECT f.k, d.d_tag
         |FROM $cat.`$root` f JOIN batscan_bkt_dim d ON f.k = d.d_k
         |WHERE d.d_tag = 'hit'""".stripMargin)
    // collect df ITSELF: count() executes a cloned plan with its own
    // scan instance, leaving this one's runtime counters untouched
    assert(df.collect().length == probe.size)
    val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
    assert(scan.runtimeDroppedFiles > 0,
      s"bucket bands must drop other buckets' files at run time " +
        s"(kept=${scan.keptFiles.size}/${scan.totalFiles})")
  }

  test("runtime In-sets prune through per-file BLOOMS inside one band") {
    import spark.implicits._
    val root = graft.TempDirs.create("batscan_bloom").resolve("log").toString
    // two files with INTERLEAVED keys (evens/odds): identical min/max
    // bands, so only the blooms can tell them apart
    SnapshotLog.appendBloomed(spark, root,
      (1L to 9999L by 2).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      SnapshotLog.BloomSpec(Seq("k"), expectedPerFile = 10000L))
    SnapshotLog.appendBloomed(spark, root,
      (2L to 10000L by 2).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      SnapshotLog.BloomSpec(Seq("k"), expectedPerFile = 10000L))
    val dimDir = graft.TempDirs.create("batscan_bloom_dim")
      .resolve("dim").toString
    Seq((4L, "hit"), (5000L, "hit"), (9000L, "hit"))
      .toDF("d_k", "d_tag").write.parquet(dimDir)  // all EVEN keys
    spark.read.parquet(dimDir).createOrReplaceTempView("batscan_bloom_dim")
    val df = spark.sql(
      s"""SELECT f.k, d.d_tag
         |FROM $cat.`$root` f JOIN batscan_bloom_dim d ON f.k = d.d_k
         |WHERE d.d_tag = 'hit'""".stripMargin)
    assert(df.collect().length == 3)
    val scan = SnapshotCatalog.scanOf(df).asInstanceOf[SnapshotBatchScan]
    assert(scan.runtimeDroppedFiles >= 1,
      "the odd-keys file shares the band; only its bloom can drop it " +
        s"(kept=${scan.keptFiles.size}/${scan.totalFiles})")
  }

  test("strong form: runtime-pruned files are never opened") {
    import spark.implicits._
    val (root, _) = starFixture("strong")
    val dimDir = graft.TempDirs.create("batstar_dim2").resolve("dim").toString
    Seq((200005L, "x")).toDF("d_k", "d_tag").write.parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("batscan_dim2")
    // delete the two files the dim's key band excludes — if runtime
    // pruning failed to drop them, the read would crash
    SnapshotLog.snapshot(spark, root, 3L).files
      .filter(f => f.stats.get("k").exists(_._2.toLong < 200000L))
      .foreach(f => fs(root).delete(new Path(s"$root/${f.path}"), false))
    val df = spark.sql(
      s"""SELECT f.k, d.d_tag
         |FROM $cat.`$root` f JOIN batscan_dim2 d ON f.k = d.d_k
         |WHERE d.d_tag = 'x'""".stripMargin)
    assert(rowSet(df) == Seq(Seq("200005", "x")))
  }
}
