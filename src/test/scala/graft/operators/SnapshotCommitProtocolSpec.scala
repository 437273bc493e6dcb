package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Commit-protocol hardening from the round-10 adversarial pass:
  * beyond-head crash replay of a staged publish, NaN-stat degradation
  * in the metadata path, tmp-manifest debris reclamation, and the
  * rename-aware band re-key on staged splices.
  */
class SnapshotCommitProtocolSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot() =
    Files.createTempDirectory("graft_cproto").resolve("log").toString
  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

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
