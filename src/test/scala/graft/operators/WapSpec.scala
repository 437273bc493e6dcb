package graft.operators

import graft.SparkSpec

/** Write-audit-publish: staged appends are invisible to every reader,
  * auditable in isolation, published by one atomic rename (correct
  * even across a rename committed between stage and publish — field
  * ids), discardable, and protected from the vacuum until decided.
  */
class WapSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_wap")
      .resolve("log").toString

  test("staged rows are invisible until published; audit sees exactly them") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val key = SnapshotLog.stageAppend(spark, root,
      Seq((3L, "c"), (4L, "d")).toDF("k", "v"))
    // invisible: no new snapshot, reads unchanged
    assert(SnapshotLog.currentId(spark, root) === 1L)
    assert(SnapshotLog.read(spark, root).count() === 2L)
    assert(rowSet(SnapshotLog.auditStaged(spark, root, key)) ===
      rowSet(Seq((3L, "c"), (4L, "d")).toDF("k", "v")))
    // publish: one new snapshot, union visible, descriptor gone
    assert(SnapshotLog.publishStaged(spark, root, key) === 2L)
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")))
    assert(SnapshotLog.snapshot(spark, root, 2L).operation === "publish-append")
    intercept[IllegalArgumentException] {
      SnapshotLog.publishStaged(spark, root, key) // already published
    }
  }

  test("commits and renames between stage and publish do not corrupt the splice") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val key = SnapshotLog.stageAppend(spark, root, Seq((2L, "b")).toDF("k", "v"))
    // the table moves on while the audit runs
    SnapshotLog.append(spark, root, Seq((3L, "c")).toDF("k", "v"))
    SnapshotLog.renameColumn(spark, root, "v", "name")
    SnapshotLog.publishStaged(spark, root, key)
    // staged file resolves by FIELD ID under the renamed schema
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")))
  }

  test("publish refuses when a staged column was dropped; discard reclaims") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a", 5L)).toDF("k", "v", "x"))
    val key = SnapshotLog.stageAppend(spark, root,
      Seq((2L, "b", 6L)).toDF("k", "v", "x"))
    SnapshotLog.dropColumn(spark, root, "x")
    intercept[IllegalArgumentException] {
      SnapshotLog.publishStaged(spark, root, key)
    }
    SnapshotLog.discardStaged(spark, root, key)
    intercept[IllegalArgumentException] {
      SnapshotLog.auditStaged(spark, root, key)
    }
    assert(SnapshotLog.read(spark, root).count() === 1L)
  }

  test("vacuum spares staged data but reclaims discarded debris") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val key = SnapshotLog.stageAppend(spark, root, Seq((2L, "b")).toDF("k", "v"))
    SnapshotLog.vacuumOrphans(spark, root, graceMs = 0L)
    // staged data survived the vacuum: still auditable and publishable
    assert(SnapshotLog.auditStaged(spark, root, key).count() === 1L)
    SnapshotLog.publishStaged(spark, root, key)
    assert(SnapshotLog.read(spark, root).count() === 2L)
  }

  test("publish replay after a crash between rename and cleanup is a no-op") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val key = SnapshotLog.stageAppend(spark, root, Seq((2L, "b")).toDF("k", "v"))
    // capture the descriptor, publish, then resurrect the descriptor —
    // the state a crash between manifest rename and descriptor delete
    // leaves behind
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sp = new org.apache.hadoop.fs.Path(s"$root/snap/s_$key.staged")
    val in = fs.open(sp)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      Iterator.continually(in.read(chunk)).takeWhile(_ > 0)
        .foreach(n => buf.write(chunk, 0, n))
      buf.toByteArray
    } finally in.close()
    assert(SnapshotLog.publishStaged(spark, root, key) === 2L)
    val out = fs.create(sp, true)
    try out.write(bytes) finally out.close()
    // replay must DETECT the splice, clean up, and not double the rows
    assert(SnapshotLog.publishStaged(spark, root, key) === 2L)
    assert(!fs.exists(sp))
    assert(SnapshotLog.read(spark, root).count() === 2L)
    // and a discard in that state must refuse (data is live)
    val out2 = fs.create(sp, true)
    try out2.write(bytes) finally out2.close()
    intercept[IllegalArgumentException] {
      SnapshotLog.discardStaged(spark, root, key)
    }
    fs.delete(sp, false)
  }

  test("stageAppend rejects schema drift") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      SnapshotLog.stageAppend(spark, root, Seq((2L, 9L)).toDF("k", "v")) // retype
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.stageAppend(spark, root, Seq((2L, "b", 1L)).toDF("k", "v", "extra"))
    }
  }
}
