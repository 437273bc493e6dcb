package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The hash-bucket layout's contract: optimizeBucketed preserves
  * content bit-exactly, records per-file bucket bands in the manifest,
  * readBuckets PRUNES files from metadata alone (and stays correct
  * whether or not it prunes), and CoW rewrites keep the layout's stat
  * on their rewritten files.
  */
class SnapshotBucketedSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_bucket_spec")
      .resolve("log").toString

  private val N = 8

  private def seeded(): String = {
    val root = newRoot()
    // 64 keys round-robin across 4 files: every file spans most buckets
    // before the rewrite
    SnapshotLog.append(spark, root,
      (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4))
    SnapshotLog.optimizeBucketed(spark, root, "k", N)
    root
  }

  test("optimizeBucketed preserves content and commits an empty changelog") {
    val root = seeded()
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet((1L to 64L).map(k => (k, s"v$k")).toDF("k", "v")))
    assert(SnapshotLog.changes(spark, root, 1L, 2L).count() === 0L)
    assert(SnapshotLog.bucketLayout(spark, root, "k") === Some(N))
    assert(SnapshotLog.bucketLayout(spark, root, "v") === None)
  }

  test("readBuckets prunes to a strict file subset and answers exactly") {
    val root = seeded()
    val all = SnapshotLog.snapshot(spark, root, 2L).files
    val one = Set(3L)
    val kept = SnapshotLog.bucketFilesOf(SnapshotLog.resolve(spark, root),
      "k", N, one)
    assert(kept.nonEmpty && kept.size < all.size,
      s"no pruning: kept ${kept.size} of ${all.size}")
    val got = SnapshotLog.readBuckets(spark, root, "k", N, one)
    val want = SnapshotLog.read(spark, root)
      .filter(pmod(hash(col("k")), lit(N)).cast("long") === 3L)
    assert(rowSet(got) === rowSet(want))
    // empty bucket set reads empty
    assert(SnapshotLog.readBuckets(spark, root, "k", N, Set.empty).count() === 0L)
  }

  test("a wrong-n probe keeps files conservatively and still answers exactly") {
    val root = seeded()
    val buckets = Set(0L, 1L)
    val got = SnapshotLog.readBuckets(spark, root, "k", 32, buckets)
    val want = SnapshotLog.read(spark, root)
      .filter(pmod(hash(col("k")), lit(32)).cast("long").isin(0L, 1L))
    assert(rowSet(got) === rowSet(want))
  }

  test("CoW delete keeps the bucket stat on its rewritten files") {
    val root = seeded()
    SnapshotLog.deleteWhere(spark, root, col("k") === 7L)
    val files = SnapshotLog.snapshot(spark, root, 3L).files
    assert(files.forall(_.stats.keys.exists(_.startsWith("__bucket:k:"))),
      "rewritten file lost the layout stat")
    assert(SnapshotLog.bucketLayout(spark, root, "k") === Some(N))
    // pruning still works post-delete, and the answer is exact
    val got = SnapshotLog.readBuckets(spark, root, "k", N, Set(2L))
    val want = SnapshotLog.read(spark, root)
      .filter(pmod(hash(col("k")), lit(N)).cast("long") === 2L)
    assert(rowSet(got) === rowSet(want))
  }

  test("appendBucketed keeps growth prunable — and whole LISTS skip by band") {
    val root = seeded()
    // a bucketed append inherits the declared layout (n read from the
    // table) and records bands — its rows stay bucket-prunable. The
    // batch is CONFINED to the low buckets (band is an interval: only
    // a batch whose bucket range excludes the probe can prove a
    // list-level skip)
    val lowOnly = (100L to 163L).map(k => (k, s"v$k")).toDF("k", "v")
      .filter(pmod(hash(col("k")), lit(N)).cast("long") <= 1L)
    SnapshotLog.appendBucketed(spark, root, lowOnly, "k")
    val headId = SnapshotLog.currentId(spark, root)
    val newFiles = SnapshotLog.snapshot(spark, root, headId).files.toSet
      .diff(SnapshotLog.snapshot(spark, root, headId - 1).files.toSet)
    assert(newFiles.nonEmpty)
    // probe bucket 5: the appended list's band [0,1] excludes it — the
    // whole list (every new file) must be skipped at planning
    val kept = SnapshotLog.bucketFilesOf(SnapshotLog.resolve(spark, root),
      "k", N, Set(5L))
    assert(newFiles.forall(f => !kept.contains(f)),
      s"appended list not band-skipped: kept ${kept.map(_.path)}")
    val got = SnapshotLog.readBuckets(spark, root, "k", N, Set(5L))
    val want = SnapshotLog.read(spark, root)
      .filter(pmod(hash(col("k")), lit(N)).cast("long") === 5L)
    assert(rowSet(got) === rowSet(want))
    // and probing the appended batch's own bucket returns its rows
    assert(SnapshotLog.readBuckets(spark, root, "k", N, Set(0L, 1L))
      .filter(col("k") >= 100L).count() ===
      lowOnly.count())
    // seeding a layout on a fresh column errors without an explicit n
    intercept[IllegalArgumentException] {
      SnapshotLog.appendBucketed(spark, root,
        Seq((1L, "x")).toDF("k", "v"), "v")
    }
  }

  test("files appended after the re-bucket are conservatively kept") {
    val root = seeded()
    // a plain append records no bucket stat — its file must be KEPT by
    // every probe (no band = cannot skip) and the residual filter must
    // still keep the answer exact on both its and other buckets
    SnapshotLog.append(spark, root,
      Seq((100L, "tail")).toDF("k", "v").coalesce(1))
    val tailFile = SnapshotLog.snapshot(spark, root, 3L).files
      .filterNot(SnapshotLog.snapshot(spark, root, 2L).files.toSet).head
    assert(!tailFile.stats.keys.exists(_.startsWith("__bucket:")))
    val tailBucket = spark.range(1)
      .select(pmod(hash(lit(100L)), lit(N)).cast("long")).head().getLong(0)
    val other = (tailBucket + 1) % N
    assert(SnapshotLog.bucketFilesOf(SnapshotLog.resolve(spark, root),
      "k", N, Set(other)).contains(tailFile), "statless file must be conservatively kept")
    assert(SnapshotLog.readBuckets(spark, root, "k", N, Set(tailBucket))
      .filter(col("k") === 100L).count() === 1L)
    assert(SnapshotLog.readBuckets(spark, root, "k", N, Set(other))
      .filter(col("k") === 100L).count() === 0L)
  }

  test("readForKeys prunes BOTH eras of an evolved bucket layout") {
    val root = seeded() // era 1: 64 keys under N=8
    // era 2: new growth seeds a DIFFERENT layout (partition-spec
    // evolution) — old files keep their n=8 bands, new files record 16
    SnapshotLog.appendBucketed(spark, root,
      (65L to 128L).map(k => (k, s"v$k")).toDF("k", "v"), "k", 16)
    assert(SnapshotLog.bucketLayoutsOf(spark, root, "k") === Seq(8, 16))
    val all = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files
    val era1 = SnapshotLog.snapshot(spark, root, 2L).files.map(_.path).toSet
    val keys = Seq(5L, 70L).toDF("k")
    val (kept, byLayout) =
      SnapshotLog.keyFilesOf(SnapshotLog.resolve(spark, root), "k", keys)
    assert(byLayout.keySet === Set(8, 16))
    // pruning bites in EACH era, not just the declared (max-n) one —
    // the property readBuckets alone cannot give a mixed-layout table
    val keptEra1 = kept.count(f => era1(f.path))
    val keptEra2 = kept.count(f => !era1(f.path))
    val allEra2 = all.count(f => !era1(f.path))
    assert(keptEra1 > 0 && keptEra1 < era1.size,
      s"era-1 not pruned: $keptEra1 of ${era1.size}")
    assert(keptEra2 > 0 && keptEra2 < allEra2,
      s"era-2 not pruned: $keptEra2 of $allEra2")
    // and the restricted read is an exact superset: it holds every
    // matching key's row and only rows in the keys' buckets
    val got = SnapshotLog.readForKeys(spark, root, "k", keys)
    assert(got.filter(col("k").isin(5L, 70L)).count() === 2L)
    val want = SnapshotLog.read(spark, root).filter(
      pmod(hash(col("k")), lit(8)).cast("long")
        .isin(byLayout(8).toSeq: _*) &&
        pmod(hash(col("k")), lit(16)).cast("long")
          .isin(byLayout(16).toSeq: _*))
    assert(rowSet(got) === rowSet(want))
    // a layout-less column degrades to the full read
    assert(SnapshotLog.readForKeys(spark, root, "v",
      Seq("v5").toDF("v")).count() === 128L)
  }
}
