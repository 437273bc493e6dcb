package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec
import graft.operators.SnapshotLog._

/** Every commit verb writes a CANONICAL manifest: the bytes on disk are
  * exactly `manifestText` of their own parse, so the codec is the one
  * place that knows the layout. Each verb runs once; its manifest must
  * also name the expected operation and parent.
  */
class ManifestCanonicalSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(tag: String): String =
    graft.TempDirs.create(s"canon_$tag").resolve("log").toString

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  private def manifestFile(root: String, id: Long, branch: String): Path =
    if (branch.isEmpty) new Path(f"$root/snap/v$id%08d.manifest")
    else new Path(f"$root/snap/branch_$branch/v$id%08d.manifest")

  /** Assert manifest `id` is canonical and records `op` over `parent`. */
  private def assertCanonical(root: String, id: Long, op: String,
      parent: Long, branch: String = ""): Unit = {
    val p = manifestFile(root, id, branch)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val raw = parseManifest(text)
    assert(text == manifestText(raw), s"$op wrote a non-canonical manifest:\n$text")
    assert(raw.id == id && raw.operation == op && raw.parent == parent,
      s"$op header: ${text.takeWhile(_ != '\n')}")
  }

  test("createTable writes a canonical manifest") {
    val root = newRoot("create")
    val id = createTable(spark, root,
      new StructType().add("k", LongType).add("v", StringType))
    assertCanonical(root, id, "create", 0L)
  }

  test("every commit verb writes a canonical manifest") {
    val root = newRoot("verbs")
    def step(op: String)(commit: => Long): Unit = {
      val parent = currentId(spark, root)
      val id = commit
      assert(id == parent + 1, s"$op did not commit")
      assertCanonical(root, id, op, parent)
    }
    step("append")(append(spark, root, kv(1L -> "a", 2L -> "b", 3L -> "c")))
    step("overwrite")(overwrite(spark, root,
      kv((1L to 9L).map(k => k -> s"v$k"): _*).repartition(3)))
    step("delete")(deleteWhere(spark, root, col("k") === 9L))
    step("set-sort-order")(setSortOrder(spark, root, Seq(SortField("k"))))
    val key = stageAppend(spark, root, kv(20L -> "s"))
    step("publish-append")(publishStaged(spark, root, key))
    step("mor-delete")(deleteWhereMoR(spark, root, col("k") === 1L))
    step("eq-delete")(deleteWhereEqual(spark, root, kv(2L -> "").select("k")))
    step("eq-merge")(mergeIntoEqual(spark, root, kv(3L -> "E"), Seq("k")))
    step("mor-merge")(mergeIntoMoR(spark, root, kv(4L -> "M"), Seq("k")))
    step("rewrite-eq")(rewriteEqualityDeletes(spark, root))
    step("rename")(renameColumn(spark, root, "v", "w"))

    val fork = createBranch(spark, root, "b")
    val k = appendToBranch(spark, root, "b", Seq(30L -> "br").toDF("k", "w"))
    assertCanonical(root, k, "branch-append", fork, branch = "b")
    step("fast-forward=b")(fastForward(spark, root, "b"))

    val txnDir = graft.TempDirs.create("canon_txn").resolve("t").toString
    step(s"txn=$txnDir")(commitTransaction(spark,
      Seq(root -> Seq(40L -> "t").toDF("k", "w")), txnDir).head)

    // the log still answers after every verb
    assert(read(spark, root).select("k").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 5L, 6L, 7L, 8L, 20L, 30L, 40L))
  }
}
