package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SnapshotLog

/** `CALL snap.system.<verb>(…)` — the SQL maintenance surface must
  * execute the same library commits the API executes and return the
  * committed ids/counts as result rows.
  */
class SnapshotProcedureSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.proccat",
      classOf[SnapshotCatalog].getName)
    "proccat"
  }

  private def newLog(tag: String, n: Int = 50): String = {
    import spark.implicits._
    val root = graft.TempDirs.create(s"proc_$tag").resolve("log").toString
    SnapshotLog.append(spark, root,
      (1 to n).map(k => (k.toLong, s"v$k")).toDF("k", "v").repartition(4))
    root
  }

  test("rollback / create_tag / drop_tag round-trip through CALL") {
    import spark.implicits._
    val root = newLog("roll")
    SnapshotLog.append(spark, root, Seq((999L, "x")).toDF("k", "v"))
    val out = spark.sql(s"CALL $cat.system.rollback('$root', 1)")
    assert(out.columns.toSeq == Seq("snapshot_id"))
    assert(out.head().getLong(0) == 3L)
    assert(SnapshotLog.read(spark, root).count() == 50L)
    assert(spark.sql(s"CALL $cat.system.create_tag('$root', 'pre')")
      .head().getLong(0) == 3L)
    assert(spark.sql(s"CALL $cat.system.drop_tag('$root', 'pre')")
      .head().getBoolean(0))
    assert(!spark.sql(s"CALL $cat.system.drop_tag('$root', 'pre')")
      .head().getBoolean(0))
  }

  test("optimize and rewrite_deletes execute the maintenance commits") {
    val root = newLog("opt", n = 200)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 0)
    assert(SnapshotLog.hasOutstandingDeletes(spark, root))
    val folded = spark.sql(s"CALL $cat.system.rewrite_deletes('$root')")
      .head().getLong(0)
    assert(folded == 3L && !SnapshotLog.hasOutstandingDeletes(spark, root))
    val optId = spark.sql(
      s"CALL $cat.system.optimize('$root', 'k', 4)").head().getLong(0)
    assert(optId == 4L)
    assert(SnapshotLog.read(spark, root).count() == 180L)
    // the optimized layout prunes a narrow SQL read
    val df = spark.sql(s"SELECT v FROM $cat.`$root` WHERE k BETWEEN 31 AND 49")
    val scan = SnapshotCatalog.scanOf(df)
    assert(scan.totalFiles == 4 && scan.keptFiles.size == 1)
  }

  test("optimize_zorder and optimize_bucketed relayout through CALL") {
    import spark.implicits._
    val root = graft.TempDirs.create("proc_layout").resolve("log").toString
    SnapshotLog.append(spark, root,
      (1L to 256L).map(k => (k, k * 7 % 256, s"v$k")).toDF("x", "y", "v")
        .repartition(4))
    val zId = spark.sql(
      s"CALL $cat.system.optimize_zorder('$root', 'x', 'y', 16)")
      .head().getLong(0)
    assert(zId == 2L)
    // a 2-D box over the Morton layout prunes on both axes
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root), Seq(
      ("x", Some("1"), Some("40")), ("y", Some("1"), Some("40"))))
    assert(kept.size < 16, s"z-order box pruning must skip files (${kept.size}/16)")
    assert(SnapshotLog.read(spark, root).count() == 256L)
    val bId = spark.sql(
      s"CALL $cat.system.optimize_bucketed('$root', 'x', 8)")
      .head().getLong(0)
    assert(bId == 3L)
    assert(SnapshotLog.readForKeys(spark, root, "x",
      Seq(17L).toDF("x")).filter(org.apache.spark.sql.functions
        .col("x") === 17L).count() == 1L)
  }

  test("set_partition_spec and optimize_sorted relayout through CALL") {
    import SnapshotLog.PartField
    val root = newLog("spec")
    // declare, evolve, and clear — each a metadata-only commit
    spark.sql(s"CALL $cat.system.set_partition_spec('$root', 'bucket(8, k)')")
    assert(SnapshotLog.partitionSpecOf(spark, root) ==
      Seq(PartField("bucket", "k", 8)))
    // width/column accepted in either order; multi-field specs parse
    spark.sql(s"CALL $cat.system.set_partition_spec(" +
      s"'$root', 'trunc(k, 10), bucket(4, k)')")
    assert(SnapshotLog.partitionSpecOf(spark, root) ==
      Seq(PartField("trunc", "k", 10), PartField("bucket", "k", 4)))
    spark.sql(s"CALL $cat.system.set_partition_spec('$root', '')")
    assert(SnapshotLog.partitionSpecOf(spark, root).isEmpty)
    // an unknown transform fails loudly with the vocabulary
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.set_partition_spec('$root', 'year(k)')"))
    assert(e.getMessage.contains("days/hours/months"))

    // optimize_sorted through CALL: declared order + rewrite = stamped
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      "('write.ordered-by' = 'k')")
    val id = spark.sql(s"CALL $cat.system.optimize_sorted('$root', 2)")
      .head().getLong(0)
    assert(SnapshotLog.operationOf(spark, root, id) == "optimize-sorted")
    assert(SnapshotLog.read(spark, root).count() == 50L)
  }

  test("expire_snapshots and vacuum_orphans reclaim through CALL") {
    import spark.implicits._
    val root = newLog("exp")
    (1 to 3).foreach(i => SnapshotLog.append(spark, root,
      Seq((1000L + i, "x")).toDF("k", "v")))
    val exp = spark.sql(s"CALL $cat.system.expire_snapshots('$root', 2)").head()
    assert(exp.getInt(0) == 2, "two manifests expired")
    assert(SnapshotLog.history(spark, root).size == 2)
    // a named grace window of 0 reclaims freshly stranded files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$root/data/c99_orphan"))
    val out = fs.create(new Path(s"$root/data/c99_orphan/part-0.parquet"), true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    val n = spark.sql(
      s"CALL $cat.system.vacuum_orphans('$root', grace_ms => 0)")
      .head().getInt(0)
    assert(n >= 1, "the planted orphan must be reclaimed")
  }

  test("create_branch / fast_forward publish through CALL") {
    import spark.implicits._
    val root = newLog("br")
    assert(spark.sql(s"CALL $cat.system.create_branch('$root', 'wip')")
      .head().getLong(0) == 1L)
    SnapshotLog.appendToBranch(spark, root, "wip", Seq((77L, "b")).toDF("k", "v"))
    val pub = spark.sql(s"CALL $cat.system.fast_forward('$root', 'wip')")
      .head().getLong(0)
    assert(pub == 2L)
    assert(SnapshotLog.read(spark, root).count() == 51L)
  }

  test("recover_txn resolves a torn transaction through CALL") {
    import spark.implicits._
    val d = graft.TempDirs.create("proc_txn")
    val (a, tx) = (d.resolve("a").toString, d.resolve("tx").toString)
    SnapshotLog.append(spark, a, Seq((1L, "x")).toDF("k", "v"))
    val tfs = new Path(tx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    tfs.mkdirs(new Path(tx))
    val out = tfs.create(new Path(s"$tx/plan"), true)
    try out.write(s"$a\n${d.resolve("b")}".getBytes("UTF-8")) finally out.close()
    assert(!spark.sql(s"CALL $cat.system.recover_txn('$tx')")
      .head().getBoolean(0))
    // unknown procedures fail loudly
    intercept[Exception] { spark.sql(s"CALL $cat.system.nope('$a')") }
  }

  test("begin_txn / commit_txn land staged INSERTs as one transaction") {
    import spark.implicits._
    val a = newLog("txna")
    val b = newLog("txnb")
    val tx = graft.TempDirs.create("proc_tx").resolve("tx").toString
    Seq((200L, "a+")).toDF("k", "v").createOrReplaceTempView("proc_txn_a")
    Seq((201L, "b+")).toDF("k", "v").createOrReplaceTempView("proc_txn_b")
    spark.sql(s"CALL $cat.system.begin_txn('$tx')")
    spark.sql(s"INSERT INTO $cat.`$a` SELECT * FROM proc_txn_a")
    spark.sql(s"INSERT INTO $cat.`$b` SELECT * FROM proc_txn_b")
    // invisible until the decision
    assert(SnapshotLog.read(spark, a).count() == 50L)
    assert(SnapshotLog.read(spark, b).count() == 50L)
    val res = spark.sql(s"CALL $cat.system.commit_txn()").head()
    assert(res.getInt(0) == 2)
    assert(SnapshotLog.read(spark, a).count() == 51L)
    assert(SnapshotLog.read(spark, b).count() == 51L)
    // the decided transaction is readable as one consistent unit
    assert(SnapshotLog.readTransaction(spark, tx).keySet == Set(a, b))
  }

  test("abort_txn discards the stage; txn misuse fails loudly") {
    import spark.implicits._
    val a = newLog("abta")
    val tx = graft.TempDirs.create("proc_abt").resolve("tx").toString
    Seq((300L, "x")).toDF("k", "v").createOrReplaceTempView("proc_abt_a")
    spark.sql(s"CALL $cat.system.begin_txn('$tx')")
    spark.sql(s"INSERT INTO $cat.`$a` SELECT * FROM proc_abt_a")
    // double begin refuses while one is active
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.begin_txn('${tx}2')")
    }
    assert(spark.sql(s"CALL $cat.system.abort_txn()").head().getInt(0) == 1)
    assert(SnapshotLog.read(spark, a).count() == 50L)
    assert(SnapshotLog.currentId(spark, a) == 1L, "abort committed nothing")
    // commit with no active txn refuses
    intercept[Exception] { spark.sql(s"CALL $cat.system.commit_txn()") }
    // after abort, normal inserts commit directly again
    spark.sql(s"INSERT INTO $cat.`$a` SELECT * FROM proc_abt_a")
    assert(SnapshotLog.read(spark, a).count() == 51L)
  }

  test("WAP writes refuse while a SQL transaction is staging") {
    import spark.implicits._
    val a = newLog("wapmix")
    val tx = graft.TempDirs.create("proc_wapmix").resolve("tx").toString
    Seq((1L, "x")).toDF("k", "v").createOrReplaceTempView("proc_wapmix_v")
    spark.sql(s"CALL $cat.system.begin_txn('$tx')")
    spark.conf.set("spark.graft.wap.branch", "mix")
    try {
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.`$a` SELECT * FROM proc_wapmix_v")
      }
      assert(e.getMessage.contains("transaction is active"))
    } finally {
      spark.conf.unset("spark.graft.wap.branch")
      spark.sql(s"CALL $cat.system.abort_txn()")
    }
    assert(SnapshotLog.currentId(spark, a) == 1L)
  }
}
