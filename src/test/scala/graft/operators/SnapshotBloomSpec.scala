package graft.operators

import graft.SparkSpec
import graft.functions.GraftFunctions
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom skip index (tt9): the write-side aggregate, the
  * manifest round-trip, and the pruning itself — files a point read
  * skips versus the answer staying exact regardless of skipping.
  */
class SnapshotBloomSpec extends SparkSpec {


  private def newRoot(): String =
    Files.createTempDirectory("graft_snapbloom_spec").resolve("log").toString

  test("graft_bloom_agg builds a mergeable filter with no false negatives") {
    GraftFunctions.register(spark)
    // 8 input partitions force partial buffers to MERGE, not just update
    val df = spark.range(0, 5000).repartition(8)
      .agg(call_function(GraftFunctions.BloomAggName,
        col("id"), lit(5000L), lit(0.001)).as("bf"))
    val bytes = df.head().getAs[Array[Byte]](0)
    val bloom = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
    (0L until 5000L).foreach(v => assert(bloom.mightContainLong(v),
      s"false negative at $v — bloom merge lost items"))
    // fpp sanity on a disjoint probe range: far fewer than half hit
    val fp = (100000L until 110000L).count(bloom.mightContainLong)
    assert(fp < 500, s"$fp/10000 false positives at fpp=0.001")
  }

  test("bloom point reads skip files min/max cannot, and stay exact") {
    val root = newRoot()
    // round-robin 8 files over interleaved keys: every file's [min,max]
    // spans ~the full domain, so range stats keep all 8
    val data = spark.range(0, 8000).select(
      col("id").as("k"), (col("id") % 7).as("v"))
    SnapshotLog.appendBloomed(spark, root, data.repartition(8),
      SnapshotLog.BloomSpec(Seq("k"), expectedPerFile = 2000L, fpp = 0.0001))

    val keptHit = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("k", Some("4242"), Some("4242"))))
    // the key lives in exactly one file; fpp 1e-4 over 7 other files
    // makes extra keeps vanishingly unlikely (and deterministic for
    // fixed data — reruns see the same filters)
    assert(keptHit.size <= 2, s"bloom kept ${keptHit.size}/8 files")
    assert(keptHit.nonEmpty, "bloom must keep the file holding the key")

    val hit = SnapshotLog.readPoint(spark, root, "k", 4242L)
    assert(rowSet(hit) === rowSet(data.filter(col("k") === 4242L)))

    // absent key: typically zero files survive pruning; answer is empty
    val keptMiss = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("k", Some("999999"), Some("999999"))))
    assert(keptMiss.size <= 1, s"absent key kept ${keptMiss.size}/8 files")
    assert(SnapshotLog.readPoint(spark, root, "k", 999999L).count() === 0L)
  }

  test("blooms carry through later appends; rewrites degrade safely") {
    val root = newRoot()
    val a = spark.range(0, 1000).select(col("id").as("k"), lit("a").as("tag"))
    SnapshotLog.appendBloomed(spark, root, a.repartition(2),
      SnapshotLog.BloomSpec(Seq("k"), expectedPerFile = 1000L, fpp = 0.0001))
    // a plain append (no blooms) must not disturb the carried entries
    val b = spark.range(5000, 6000).select(col("id").as("k"), lit("b").as("tag"))
    SnapshotLog.append(spark, root, b.repartition(2))
    val files = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files
    assert(files.count(_.blooms.contains("k")) === 2,
      "first append's blooms must survive the second append's carry")
    // a key only in the bloom-less second append is still found (files
    // without blooms are conservatively kept)
    assert(rowSet(SnapshotLog.readPoint(spark, root, "k", 5500L)) ===
      rowSet(b.filter(col("k") === 5500L)))

    // CoW delete rewrites the bloomed files; rewritten files lose their
    // blooms but the point read stays exact
    SnapshotLog.deleteWhere(spark, root, col("k") % 2 === 1)
    assert(rowSet(SnapshotLog.readPoint(spark, root, "k", 500L)) ===
      rowSet(a.filter(col("k") === 500L)))
    assert(SnapshotLog.readPoint(spark, root, "k", 501L).count() === 0L)
  }

  test("binpack packs only small files and carries large ones untouched") {
    val root = newRoot()
    val big = spark.range(0, 20000).select(col("id").as("k"))
    SnapshotLog.append(spark, root, big.coalesce(1))
    (0 until 6).foreach(i =>
      SnapshotLog.append(spark, root,
        spark.range(100000L + i * 10, 100000L + i * 10 + 10)
          .select(col("id").as("k")).coalesce(1)))
    val before = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root))
    assert(before.files.size === 7)
    val bigPath = SnapshotLog.snapshot(spark, root, 1L).files.head.path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigStamp = fs.getFileStatus(new Path(s"$root/$bigPath")).getModificationTime

    val thresh = fs.getFileStatus(new Path(s"$root/$bigPath")).getLen / 2
    val id = SnapshotLog.optimizeBinPack(spark, root, smallBytes = thresh)
    val after = SnapshotLog.snapshot(spark, root, id)
    // 6 tiny files became 1; the big file is the SAME file, not a copy
    assert(after.files.size === 2, s"expected 2 files, got ${after.files.size}")
    assert(after.files.exists(_.path === bigPath), "large file must carry by path")
    assert(fs.getFileStatus(new Path(s"$root/$bigPath")).getModificationTime
      === bigStamp, "large file must not be rewritten")
    // content bit-preserved; a second binpack is a no-op (no history growth)
    assert(SnapshotLog.read(spark, root).count() === 20060L)
    assert(SnapshotLog.optimizeBinPack(spark, root, smallBytes = thresh) === id)
  }

  test("binpack sizes files from the manifest; an entry without a recorded size is stat'ed") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      spark.range(0, 20000).select(col("id").as("k")).coalesce(1))
    (0 until 6).foreach(i =>
      SnapshotLog.append(spark, root,
        spark.range(100000L + i * 10, 100000L + i * 10 + 10)
          .select(col("id").as("k")).coalesce(1)))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = SnapshotLog.resolve(spark, root).files
    val bigPath = SnapshotLog.snapshot(spark, root, 1L).files.head.path
    val small = files.map(_.path).filterNot(_ == bigPath).sorted
    // rewrite the head's recorded sizes: `bytes` is the sixth field of
    // a file line, 0 = a legacy entry that recorded none
    def setBytes(sizes: Map[String, Long]): Unit = {
      def text(p: Path): String = {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      def put(p: Path, t: String): Unit = {
        val out = fs.create(p, true)
        try out.write(t.getBytes("UTF-8")) finally out.close()
      }
      val mp = SnapshotLog.manifestPath(root, SnapshotLog.currentId(spark, root))
      val raw = SnapshotLog.parseManifest(text(mp))
      raw.refs.foreach { r =>
        val lp = new Path(s"$root/${r.path}")
        put(lp, text(lp).split("\n", -1).map { l =>
          val f = l.split('\t')
          sizes.get(f(0)).foreach(b => f(5) = b.toString)
          if (l.isEmpty) l else f.mkString("\t")
        }.mkString("\n"))
      }
      put(mp, SnapshotLog.manifestText(raw.copy(inline = raw.inline.map(f =>
        sizes.get(f.path).map(b => f.copy(bytes = b)).getOrElse(f)))))
    }
    val thresh = fs.getFileStatus(new Path(s"$root/$bigPath")).getLen / 2
    // the big file and one small file recorded no size: both are stat'ed
    // and the selection is the one true sizes give — the six small files
    setBytes(Map(bigPath -> 0L, small.head -> 0L))
    val base = SnapshotLog.currentId(spark, root)
    val id = SnapshotLog.optimizeBinPack(spark, root, smallBytes = thresh)
    val after = SnapshotLog.snapshot(spark, root, id).files.map(_.path)
    assert(after.size === 2 && after.contains(bigPath), after)
    assert(SnapshotLog.changes(spark, root, base, id).isEmpty)
    // a recorded size is believed: a small file recorded as large is
    // carried, not packed
    SnapshotLog.append(spark, root,
      spark.range(200000L, 200010L).select(col("id").as("k")).coalesce(1))
    SnapshotLog.append(spark, root,
      spark.range(300000L, 300010L).select(col("id").as("k")).coalesce(1))
    val cur = SnapshotLog.resolve(spark, root).files.map(_.path)
    val fresh = cur.filterNot(after.contains).sorted
    setBytes(Map(fresh.head -> (thresh * 4)))
    val id2 = SnapshotLog.optimizeBinPack(spark, root, smallBytes = thresh)
    val after2 = SnapshotLog.snapshot(spark, root, id2).files.map(_.path)
    assert(after2.contains(fresh.head) && after2.contains(bigPath) &&
      after2.size === 3, after2)
    assert(SnapshotLog.read(spark, root).count() === 20080L)
  }
}
