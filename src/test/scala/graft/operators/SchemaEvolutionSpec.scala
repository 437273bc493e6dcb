package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Field-id schema evolution: rename/drop are metadata-only commits,
  * reads resolve columns by id (old files keep reading correctly after
  * a rename), a dropped-then-readded name never resurrects old data,
  * and stat pruning survives the rename exactly (per-file, via ids)
  * or conservatively (bands, re-keyed by the rename commit).
  */
class SchemaEvolutionSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_evo")
      .resolve("log").toString

  test("append -> rename -> append: both eras read under the new name") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1L, "a1"), (2L, "a2")).toDF("k", "payload"))
    SnapshotLog.renameColumn(spark, root, "payload", "body")
    SnapshotLog.append(spark, root, Seq((3L, "a3")).toDF("k", "body"))
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a1"), (2L, "a2"), (3L, "a3")).toDF("k", "body")))
    assert(SnapshotLog.read(spark, root).columns.toSeq === Seq("k", "body"))
    // time travel to the pre-rename snapshot shows the OLD name
    assert(SnapshotLog.read(spark, root, asOf = 1L).columns.toSeq
      === Seq("k", "payload"))
    // the rename wrote no data: snapshot 2 carries snapshot 1's list
    assert(SnapshotLog.snapshot(spark, root, 2L).files.map(_.path)
      === SnapshotLog.snapshot(spark, root, 1L).files.map(_.path))
  }

  test("rename does not shadow: by-name resolution would misread, ids do not") {
    val root = newRoot()
    // k + v; rename v -> w; then ADD a fresh column named v (new id)
    SnapshotLog.append(spark, root, Seq((1L, "old")).toDF("k", "v"))
    SnapshotLog.renameColumn(spark, root, "v", "w")
    SnapshotLog.append(spark, root,
      Seq((2L, "new-w", "new-v")).toDF("k", "w", "v"))
    // file 1's physical column "v" must surface as w (its id), and
    // must NOT leak into the new "v" (different id)
    val got = SnapshotLog.read(spark, root)
      .select("k", "w", "v").as[(Long, String, Option[String])]
      .collect().toSet
    assert(got === Set((1L, "old", None), (2L, "new-w", Some("new-v"))))
  }

  test("dropped column retires its id; re-adding the name starts empty") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "secret")).toDF("k", "v"))
    SnapshotLog.dropColumn(spark, root, "v")
    assert(SnapshotLog.read(spark, root).columns.toSeq === Seq("k"))
    SnapshotLog.append(spark, root, Seq((2L, "fresh")).toDF("k", "v"))
    val got = SnapshotLog.read(spark, root)
      .as[(Long, Option[String])].collect().toSet
    assert(got === Set((1L, None), (2L, Some("fresh"))),
      "old data under a re-added name must stay dead")
  }

  test("CoW delete and merge keep working across a rename") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    SnapshotLog.renameColumn(spark, root, "v", "name")
    SnapshotLog.deleteWhere(spark, root, col("name") === "b")
    SnapshotLog.mergeInto(spark, root,
      Seq((3L, "c2"), (4L, "d")).toDF("k", "name"), Seq("k"))
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a"), (3L, "c2"), (4L, "d")).toDF("k", "name")))
  }

  test("changes() spanning a rename diffs under the new name") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    SnapshotLog.renameColumn(spark, root, "v", "name")
    SnapshotLog.deleteWhere(spark, root, col("k") === 2L)
    val d = SnapshotLog.changes(spark, root, 1L, 3L)
      .as[(Long, String, String)].collect().toSet
    assert(d === Set((2L, "b", "delete")))
  }

  test("per-file stat pruning stays exact across a rename (via ids)") {
    val root = newRoot()
    // disjoint ranges -> per-file k stats; rename k -> key
    (0 until 4).foreach { b =>
      SnapshotLog.append(spark, root,
        ((b * 10) until (b * 10 + 10)).map(i => (i.toLong, s"v$i"))
          .toDF("k", "v").coalesce(1))
    }
    SnapshotLog.renameColumn(spark, root, "k", "key")
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("key", Some("15"), Some("17"))))
    assert(kept.size === 1, s"kept ${kept.map(_.path)}")
    assert(rowSet(SnapshotLog.readRange(spark, root, "key", Some("15"), Some("17")))
      === rowSet(Seq((15L, "v15"), (16L, "v16"), (17L, "v17")).toDF("key", "v")))
  }

  test("statsSummary and bucket layout resolve old files through ids") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      (1L to 32L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    SnapshotLog.optimizeBucketed(spark, root, "k", 4)
    SnapshotLog.renameColumn(spark, root, "k", "key")
    assert(SnapshotLog.bucketLayout(spark, root, "key") === Some(4))
    val s = SnapshotLog.statsSummary(spark, root, Seq("key"))
      .as[(String, Long, String, String)].collect().head
    assert(s === (("key", 32L, "1", "32")))
    val got = SnapshotLog.readBuckets(spark, root, "key", 4, Set(1L))
    val want = SnapshotLog.read(spark, root)
      .filter(pmod(hash(col("key")), lit(4)).cast("long") === 1L)
    assert(rowSet(got) === rowSet(want))
  }

  test("rollback restores a prior state metadata-only; history survives") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    SnapshotLog.deleteWhere(spark, root, col("k") === 2L)
    SnapshotLog.rollback(spark, root, toId = 1L)
    // head = snapshot 3, content = snapshot 1's, via CARRIED lists
    assert(SnapshotLog.currentId(spark, root) === 3L)
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a"), (2L, "b")).toDF("k", "v")))
    assert(SnapshotLog.snapshot(spark, root, 3L).operation === "rollback=1")
    assert(SnapshotLog.snapshot(spark, root, 3L).files.map(_.path) ===
      SnapshotLog.snapshot(spark, root, 1L).files.map(_.path))
    // the mistaken delete stays addressable
    assert(SnapshotLog.read(spark, root, asOf = 2L).count() === 1L)
    // rollback to current is a no-op; out-of-range refused
    assert(SnapshotLog.rollback(spark, root, 3L) === 3L)
    intercept[IllegalArgumentException] { SnapshotLog.rollback(spark, root, 9L) }
    // a rollback head also survives rename/append on top
    SnapshotLog.renameColumn(spark, root, "v", "name")
    SnapshotLog.append(spark, root, Seq((3L, "c")).toDF("k", "name"))
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")))
    // expire keeps the carried lists live through the rollback head
    SnapshotLog.expire(spark, root, keepLast = 2)
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")))
  }

  test("optimize carries field ids — a retired id is never re-bound") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "x"))
    SnapshotLog.dropColumn(spark, root, "v") // ids now {k:1, x:3}
    val preOpt = SnapshotLog.currentId(spark, root)
    SnapshotLog.optimizeBucketed(spark, root, "k", 2)
    // a positional id reset would re-bind x to the retired id 2 and
    // the optimize commit would stop being change-free
    assert(SnapshotLog.changes(spark, root, preOpt, preOpt + 1).count() === 0L,
      "optimize must be a zero-change commit across drop/rename history")
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1L, 10L), (2L, 20L)).toDF("k", "x")))
    // re-adding the dropped name after the optimize still starts empty
    SnapshotLog.append(spark, root, Seq((3L, 30L, "new")).toDF("k", "x", "v"))
    assert(SnapshotLog.read(spark, root)
      .filter(col("v").isNotNull).count() === 1L)
  }

  test("CoW rewrite after a rename keeps the bucket layout (via ids)") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      (1L to 32L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    SnapshotLog.optimizeBucketed(spark, root, "k", 4)
    SnapshotLog.renameColumn(spark, root, "k", "key")
    SnapshotLog.deleteWhere(spark, root, col("key") === 7L)
    assert(SnapshotLog.bucketLayout(spark, root, "key") === Some(4),
      "rewrite dropped the layout stat after the rename")
    val got = SnapshotLog.readBuckets(spark, root, "key", 4, Set(2L))
    val want = SnapshotLog.read(spark, root)
      .filter(pmod(hash(col("key")), lit(4)).cast("long") === 2L)
    assert(rowSet(got) === rowSet(want))
  }

  test("list bands stay sound when a rewrite mixes stat-name eras") {
    val root = newRoot()
    // ONE list holding two range-disjoint files, then a rename and a
    // CoW delete touching only the second file: the new list mixes a
    // survivor (stats under 'k') with a rewrite (stats under 'key') —
    // a partial band fold would skip the list for the survivor's range
    SnapshotLog.append(spark, root,
      (0L to 39L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")))
    SnapshotLog.renameColumn(spark, root, "k", "key")
    SnapshotLog.deleteWhere(spark, root, col("key") === 35L)
    val got = SnapshotLog.readRange(spark, root, "key", Some("5"), Some("8"))
    assert(rowSet(got) ===
      rowSet((5L to 8L).map(i => (i, s"v$i")).toDF("key", "v")))
  }

  test("rename refuses conflicts and pre-field-id files") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      SnapshotLog.renameColumn(spark, root, "v", "k") // name taken
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.renameColumn(spark, root, "missing", "x")
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.dropColumn(spark, root, "missing")
    }
  }
}
