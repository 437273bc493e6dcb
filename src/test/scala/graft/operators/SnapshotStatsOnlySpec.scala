package graft.operators

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** tt12's claim made falsifiable: [[SnapshotLog.statsSummary]] answers
  * COUNT/MIN/MAX from the manifest ALONE. Proof: delete every data
  * file; the stats answer is unchanged while a data read now fails.
  */
class SnapshotStatsOnlySpec extends SparkSpec {

  import spark.implicits._

  private def freshLog(): String = {
    val root = Files.createTempDirectory("stats_only").resolve("log").toString
    val df = (1L to 100L).map(i => (i, i % 7, s"s$i")).toDF("k", "g", "payload")
    SnapshotLog.append(spark, root, df.repartition(4))
    SnapshotLog.append(spark, root,
      (101L to 130L).map(i => (i, i % 7, s"s$i")).toDF("k", "g", "payload"))
    root
  }

  test("statsSummary answers from metadata; deleting data files doesn't change it") {
    val root = freshLog()
    def summary() = rowSet(
      SnapshotLog.statsSummary(spark, root, Seq("k", "g")).orderBy("col_name"))
    val before = summary()
    assert(before.exists(r => r.contains("k") && r.contains("130") && r.contains("1")))
    assert(before.forall(_.contains("130"))) // n_rows = 130 on both rows

    // destroy every data file; manifests stay
    val dataFiles = Files.walk(java.nio.file.Paths.get(root)).iterator()
    val toDelete = scala.collection.mutable.ArrayBuffer.empty[Path]
    dataFiles.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) toDelete += p
    }
    assert(toDelete.nonEmpty, "fixture should have data files")
    toDelete.foreach(Files.delete)

    assert(summary() === before, "metadata-only answer must survive data loss")
    intercept[Exception] {
      SnapshotLog.read(spark, root).collect()
    }
  }

  test("a column missing stats on any file yields null bounds, exact count") {
    val root = Files.createTempDirectory("stats_null").resolve("log").toString
    // boolean columns are not stats-worthy -> no recorded bounds
    SnapshotLog.append(spark, root,
      (1L to 10L).map(i => (i, i % 2 == 0)).toDF("k", "flag"))
    val rows = SnapshotLog.statsSummary(spark, root, Seq("flag"))
      .collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(1) === 10L)
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(3))
  }

  test("a file where the column is all-null folds past; bounds come from the rest") {
    val root = Files.createTempDirectory("stats_partial").resolve("log").toString
    SnapshotLog.append(spark, root,
      Seq((1L, Some(5L)), (2L, Some(9L))).toDF("k", "v"))
    // second file: v entirely null — its rows cannot move min/max, so
    // the summary must still answer (5, 9), exactly like a scan
    SnapshotLog.append(spark, root,
      Seq((3L, Option.empty[Long])).toDF("k", "v"))
    val r = SnapshotLog.statsSummary(spark, root, Seq("v")).collect()(0)
    assert(r.getLong(1) === 3L)
    assert(r.getString(2) === "5" && r.getString(3) === "9")
  }

  test("dropTag reverses retention protection; corrupted refs are skipped") {
    val root = freshLog()
    SnapshotLog.tag(spark, root, "pin", id = 1L)
    assert(SnapshotLog.tagIds(spark, root) === Set(1L))
    // a foreign/corrupted file under refs/ must not break tagIds
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(s"$root/refs/junk")
    val out = fs.create(junk, true)
    try out.write("not-a-number".getBytes("UTF-8")) finally out.close()
    // a foreign NAME (chars refPath rejects) must be skipped too, not
    // just foreign content — one editor backup must not block expire
    val weird = new org.apache.hadoop.fs.Path(s"$root/refs/audit~bak")
    val out3 = fs.create(weird, true)
    try out3.write("also junk".getBytes("UTF-8")) finally out3.close()
    assert(SnapshotLog.tagIds(spark, root) === Set(1L))
    // dropTag makes the snapshot expirable again
    assert(SnapshotLog.dropTag(spark, root, "pin"))
    assert(!SnapshotLog.hasTag(spark, root, "pin"))
    assert(SnapshotLog.tagIds(spark, root) === Set.empty)
    val (gone, _) = SnapshotLog.expire(spark, root, keepLast = 1)
    assert(gone === 1)
  }

  test("vacuumOrphans reclaims aged dot-temp refs from crashed tags") {
    val root = freshLog()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/refs"))
    val tmp = new org.apache.hadoop.fs.Path(s"$root/refs/.crashed_123")
    val out = fs.create(tmp, true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    SnapshotLog.vacuumOrphans(spark, root, graceMs = 0L)
    assert(!fs.exists(tmp), "aged temp ref must be reclaimed")
  }

  test("tags pin snapshots by name, move atomically, reject missing ids") {
    val root = freshLog() // 2 snapshots
    SnapshotLog.tag(spark, root, "first", id = 1L)
    assert(SnapshotLog.tagId(spark, root, "first") === 1L)
    assert(SnapshotLog.readTag(spark, root, "first").count() === 100L)
    // default pins current
    assert(SnapshotLog.tag(spark, root, "tip") === 2L)
    assert(SnapshotLog.readTag(spark, root, "tip").count() === 130L)
    // re-tag moves the pin
    SnapshotLog.tag(spark, root, "first", id = 2L)
    assert(SnapshotLog.readTag(spark, root, "first").count() === 130L)
    intercept[IllegalArgumentException] {
      SnapshotLog.tag(spark, root, "nope", id = 9L)
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.tagId(spark, root, "never-created")
    }
  }

  test("expire rescues tagged snapshots; readTag survives maintenance") {
    val root = freshLog() // snapshots 1 and 2
    SnapshotLog.append(spark, root,
      (201L to 210L).map(i => (i, i % 7, s"s$i")).toDF("k", "g", "payload")) // 3
    SnapshotLog.tag(spark, root, "pin1", id = 1L)
    // keepLast=1 would normally drop snapshots 1 and 2; the pin rescues 1
    SnapshotLog.expire(spark, root, keepLast = 1)
    assert(SnapshotLog.readTag(spark, root, "pin1").count() === 100L,
      "tagged snapshot must survive retention")
    intercept[Exception] {
      SnapshotLog.read(spark, root, asOf = 2L).collect() // unpinned: expired
    }
    assert(SnapshotLog.read(spark, root).count() === 140L) // current intact
  }
}
