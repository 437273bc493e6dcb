package graft.operators

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkSpec

/** Concurrent row-level DML: a MoR commit that loses the publish CAS
  * validates against the new head and REBASES when the race provably
  * touched different rows (Iceberg's validate-and-retry) — and still
  * aborts loudly on a same-row, schema, spec, or equality-delete
  * conflict. Races are simulated by computing discovery against a
  * STALE base and committing after a winner has landed.
  */
class MorCommitRetrySpec extends SparkSpec {

  private def newLog(tag: String): String = {
    import spark.implicits._
    val root = graft.TempDirs.create(s"morretry_$tag").resolve("log").toString
    SnapshotLog.append(spark, root,
      (1 to 100).map(k => (k.toLong, s"v$k")).toDF("k", "v").repartition(4))
    root
  }

  /** The (dead, adds) a MERGE updating `keys` to tag would commit,
    * discovered against snapshot `base`.
    */
  private def upsertParts(root: String, base: Long, keys: Seq[Long],
      tag: String) = {
    val pos =
      SnapshotLog.readPosForDml(spark, SnapshotLog.resolve(spark, root, base))
    val hit = pos.filter(col("k").isin(keys: _*))
    val dead = hit.select(col("__path").as("t_path"), col("__pos").as("t_pos"))
    val adds = hit.select(col("k"), concat(lit(tag), col("k")).as("v"))
    (dead, adds)
  }

  test("two merges racing on DISJOINT keys both commit (loser rebases)") {
    val root = newLog("disjoint")
    val (deadA, addsA) = upsertParts(root, 1L, Seq(1L, 2L, 3L), "a")
    val (deadB, addsB) = upsertParts(root, 1L, Seq(50L, 51L), "b")
    // A wins the CAS at 2; B computed against base 1 and must rebase
    assert(SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadA), addsA) == 2L)
    assert(SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadB), addsB) == 3L)
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 100L)
    assert(out.filter(col("v").startsWith("a")).count() == 3L)
    assert(out.filter(col("v").startsWith("b")).count() == 2L)
    assert(out.filter(col("k") === 50L).select("v").head().getString(0)
      == "b50")
  }

  test("a SAME-key race still aborts loudly — never a lost update") {
    val root = newLog("samekey")
    val (deadA, addsA) = upsertParts(root, 1L, Seq(1L, 2L, 3L), "a")
    val (deadC, addsC) = upsertParts(root, 1L, Seq(3L, 4L), "c")
    SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadA), addsA)
    val e = intercept[IllegalStateException] {
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadC), addsC)
    }
    assert(e.getMessage.contains("same rows"))
    // the winner's state is intact, the loser committed nothing
    assert(SnapshotLog.currentId(spark, root) == 2L)
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 100L)
    assert(out.filter(col("k") === 3L).select("v").head().getString(0) == "a3")
    assert(out.filter(col("v").startsWith("c")).count() == 0L)
  }

  test("a schema change or equality delete in the race window aborts") {
    import spark.implicits._
    val rootS = newLog("schema")
    val (deadS, addsS) = upsertParts(rootS, 1L, Seq(1L), "s")
    SnapshotLog.addColumn(spark, rootS, "extra",
      org.apache.spark.sql.types.StringType)
    intercept[IllegalStateException] {
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, rootS, 1L), Some(deadS), addsS)
    }
    val rootE = newLog("eq")
    val (deadE, addsE) = upsertParts(rootE, 1L, Seq(1L), "e")
    SnapshotLog.deleteWhereEqual(spark, rootE, Seq(99L).toDF("k"))
    intercept[IllegalStateException] {
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, rootE, 1L), Some(deadE), addsE)
    }
  }

  test("a CoW rewrite of a targeted file in the race window aborts") {
    val root = newLog("rewrite")
    val (dead, adds) = upsertParts(root, 1L, Seq(1L), "r")
    // the CoW delete rewrites the file holding k=1 (deleting k=1
    // itself guarantees that) — our coordinates would dangle; the
    // rebase must refuse
    SnapshotLog.deleteWhere(spark, root, col("k") === 1L)
    intercept[IllegalStateException] {
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(dead), adds)
    }
    assert(SnapshotLog.read(spark, root).count() == 99L)
  }

  test("a pure-append loser rebases over any append winner") {
    import spark.implicits._
    val root = newLog("append")
    SnapshotLog.append(spark, root, Seq((200L, "w")).toDF("k", "v"))
    // committed against base 1 while head is 2
    val adds = Seq((300L, "l")).toDF("k", "v")
    assert(SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), None, adds) == 3L)
    assert(SnapshotLog.read(spark, root).count() == 102L)
  }
}
