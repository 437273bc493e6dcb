package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** SnapshotLog invariants beyond tt1–tt3's oracle row-hashes: manifest
  * atomicity and immutability (a delete never rewrites a carried file),
  * per-file row counts as pure metadata, no-op delete not growing
  * history, expiry reclaiming exactly the unreferenced files, and the
  * commit protocol's crash and race behavior.
  */
class SnapshotLogSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    Files.createTempDirectory("graft_snaplog_spec").resolve("log").toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append/read roundtrip and time travel pin exact prefixes") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    SnapshotLog.append(spark, root, Seq((3, "c")).toDF("k", "v"))
    assert(SnapshotLog.currentId(spark, root) === 2L)
    assert(rowSet(SnapshotLog.read(spark, root, asOf = 1L)) ===
      rowSet(Seq((1, "a"), (2, "b")).toDF("k", "v")))
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")))
  }

  test("manifest rows are total table rows, computed without data reads") {
    val root = newRoot()
    SnapshotLog.append(spark, root, (1 to 10).toDF("k"))
    SnapshotLog.append(spark, root, (11 to 15).toDF("k"))
    SnapshotLog.overwrite(spark, root, (1 to 3).toDF("k"))
    val h = SnapshotLog.history(spark, root)
    assert(h.map(s => (s.id, s.operation, s.rows)) ===
      Seq((1L, "append", 10L), (2L, "append", 15L), (3L, "overwrite", 3L)))
    // per-file counts sum to the header total in every snapshot
    h.foreach(s => assert(s.files.map(_.rows).sum === s.rows))
  }

  test("copy-on-write delete carries untouched files byte-identical") {
    val root = newRoot()
    // two appends → two data dirs; delete hits only the second's rows
    SnapshotLog.append(spark, root,
      Seq((1, "keep"), (2, "keep")).toDF("k", "tag").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((3, "keep"), (4, "drop")).toDF("k", "tag").coalesce(1))
    val before = SnapshotLog.snapshot(spark, root, 2L)
    val stamps = before.files.map { f =>
      f.path -> fs(root).getFileStatus(new Path(s"$root/${f.path}")).getModificationTime
    }.toMap

    SnapshotLog.deleteWhere(spark, root, col("tag") === "drop")
    val after = SnapshotLog.snapshot(spark, root, 3L)
    assert(after.operation === "delete")
    assert(after.rows === 3L)
    // the v1 file is carried by reference: same path, same mtime
    val carried = after.files.map(_.path).toSet.intersect(before.files.map(_.path).toSet)
    assert(carried.nonEmpty)
    carried.foreach { p =>
      assert(fs(root).getFileStatus(new Path(s"$root/$p")).getModificationTime
        === stamps(p))
    }
    // v2 still reads the full pre-delete content (history is immutable)
    assert(rowSet(SnapshotLog.read(spark, root, asOf = 2L)).size === 4)
    assert(rowSet(SnapshotLog.read(spark, root)).size === 3)
  }

  test("no-op delete returns current id and commits nothing") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v"))
    assert(SnapshotLog.deleteWhere(spark, root, col("k") === 99) === 1L)
    assert(SnapshotLog.history(spark, root).size === 1)
  }

  test("expire reclaims exactly the files no kept snapshot references") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v").coalesce(1))
    SnapshotLog.append(spark, root, Seq((2, "b")).toDF("k", "v").coalesce(1))
    SnapshotLog.overwrite(spark, root, Seq((9, "z")).toDF("k", "v").coalesce(1))
    val liveFiles = SnapshotLog.snapshot(spark, root, 3L).files.map(_.path)
    val (manifests, dataFiles) = SnapshotLog.expire(spark, root, keepLast = 1)
    assert(manifests === 2)
    // v1's file + v2's file die (v2 carried v1's, but neither is in v3)
    assert(dataFiles === 2)
    liveFiles.foreach(p => assert(fs(root).exists(new Path(s"$root/$p"))))
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((9, "z")).toDF("k", "v")))
    intercept[IllegalArgumentException] {
      SnapshotLog.snapshot(spark, root, 1L)
    }
  }

  test("a crashed commit (tmp manifest, orphan data dir) is invisible to readers") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v"))
    // simulate a writer that died after data write, before rename
    val f = fs(root)
    f.mkdirs(new Path(s"$root/data/c2_deadbeef"))
    val out = f.create(new Path(s"$root/snap/v00000002.manifest.tmp.dead"), true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    assert(SnapshotLog.currentId(spark, root) === 1L)
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1, "a")).toDF("k", "v")))
  }

  test("append against an externally advanced log carries the new current's files") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v"))
    // an external committer (another session) publishes v2 behind our back:
    // copy v1's manifest to v2 — same files, new id
    val f = fs(root)
    val v1 = new Path(f"$root/snap/v${1L}%08d.manifest")
    val v2 = new Path(f"$root/snap/v${2L}%08d.manifest")
    org.apache.hadoop.fs.FileUtil.copy(f, v1, f, v2, false,
      spark.sparkContext.hadoopConfiguration)
    val id = SnapshotLog.append(spark, root, Seq((2, "b")).toDF("k", "v"))
    assert(id === 3L)
    // v3 carried the files of the CURRENT snapshot (v2), not a stale base
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1, "a"), (2, "b")).toDF("k", "v")))
  }

  test("two concurrent appends both survive (optimistic commit converges)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((0, "base")).toDF("k", "v"))
    // whichever interleaving the scheduler picks — clean serialization or a
    // lost rename + retry — the log must converge to all three rows with
    // one snapshot per committer
    val winners = Await.result(Future.sequence(Seq(
      Future(SnapshotLog.append(spark, root, Seq((1, "x")).toDF("k", "v"))),
      Future(SnapshotLog.append(spark, root, Seq((2, "y")).toDF("k", "v"))))),
      2.minutes)
    assert(winners.toSet.size === 2)
    assert(SnapshotLog.currentId(spark, root) === winners.max)
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((0, "base"), (1, "x"), (2, "y")).toDF("k", "v")))
  }

  test("changes reads only delta files and carried rewrites cancel") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1, "keep"), (2, "keep")).toDF("k", "tag").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((3, "keep"), (4, "drop"), (5, "drop")).toDF("k", "tag").coalesce(1))
    SnapshotLog.deleteWhere(spark, root, col("tag") === "drop")

    // append delta: exactly the batch-2 rows, all inserts
    val d12 = SnapshotLog.changes(spark, root, 1L, 2L)
    assert(rowSet(d12) === rowSet(
      Seq((3, "keep", "insert"), (4, "drop", "insert"), (5, "drop", "insert"))
        .toDF("k", "tag", "change")))

    // CoW delete delta: the dropped rows as deletes, NO spurious inserts
    // for the carried survivor (row 3 was rewritten but is unchanged, so
    // it cancels under exceptAll)
    val d23 = SnapshotLog.changes(spark, root, 2L, 3L)
    assert(rowSet(d23) === rowSet(
      Seq((4, "drop", "delete"), (5, "drop", "delete"))
        .toDF("k", "tag", "change")))

    // spanning read composes: 1→3 nets out to the surviving insert only
    val d13 = SnapshotLog.changes(spark, root, 1L, 3L)
    assert(rowSet(d13) === rowSet(
      Seq((3, "keep", "insert")).toDF("k", "tag", "change")))

    // the delta read must NOT touch the untouched v1 file: its rows never
    // appear in any diff above, and changes(1,2)'s plan reads one file
    val planned = d12.queryExecution.executedPlan.toString
    val v1File = SnapshotLog.snapshot(spark, root, 1L).files.head.path
    assert(!planned.contains(v1File.substring(v1File.lastIndexOf('/') + 1)))

    intercept[IllegalArgumentException] {
      SnapshotLog.changes(spark, root, 2L, 2L)
    }
  }

  test("mergeInto upserts copy-on-write: only hit files rewritten") {
    val root = newRoot()
    // two files: keys 1-2 and keys 3-4; the merge touches only 3
    SnapshotLog.append(spark, root,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((3, "c"), (4, "d")).toDF("k", "v").coalesce(1))
    val before = SnapshotLog.snapshot(spark, root, 2L)
    val stamps = before.files.map { f =>
      f.path -> fs(root).getFileStatus(new Path(s"$root/${f.path}")).getModificationTime
    }.toMap

    val id = SnapshotLog.mergeInto(spark, root,
      Seq((3, "C2"), (9, "new")).toDF("k", "v"), Seq("k"))
    assert(id === 3L)
    val after = SnapshotLog.snapshot(spark, root, 3L)
    assert(after.operation === "merge")
    // matched key updated, unmatched source inserted, survivors kept
    assert(rowSet(SnapshotLog.read(spark, root)) === rowSet(
      Seq((1, "a"), (2, "b"), (3, "C2"), (4, "d"), (9, "new")).toDF("k", "v")))
    // the untouched keys-1-2 file is carried by reference (same mtime);
    // the keys-3-4 file was rewritten (its path is gone from v3)
    val carried = after.files.map(_.path).toSet.intersect(stamps.keySet)
    assert(carried.nonEmpty)
    carried.foreach { p =>
      assert(fs(root).getFileStatus(new Path(s"$root/$p")).getModificationTime
        === stamps(p))
    }
    // history is immutable: v2 still reads the pre-merge content
    assert(rowSet(SnapshotLog.read(spark, root, asOf = 2L)) === rowSet(
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")))
    // changelog of the merge: delete of the old row, inserts of new ones
    assert(rowSet(SnapshotLog.changes(spark, root, 2L, 3L)) === rowSet(
      Seq((3, "c", "delete"), (3, "C2", "insert"), (9, "new", "insert"))
        .toDF("k", "v", "change")))
  }

  test("mergeInto with no matched keys appends without rewriting any file") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v").coalesce(1))
    val before = SnapshotLog.snapshot(spark, root, 1L).files.map(_.path).toSet
    SnapshotLog.mergeInto(spark, root, Seq((2, "b")).toDF("k", "v"), Seq("k"))
    val after = SnapshotLog.snapshot(spark, root, 2L)
    assert(before.subsetOf(after.files.map(_.path).toSet))
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1, "a"), (2, "b")).toDF("k", "v")))
  }

  test("append widening the schema evolves old rows to null, time travel keeps the narrow view") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v"))
    SnapshotLog.append(spark, root,
      Seq((2, "b", 7.5)).toDF("k", "v", "score"))
    // current reads the union schema; the v1 file's missing column is
    // resolved to null from manifest metadata (no footer merge job)
    val cur = SnapshotLog.read(spark, root)
    assert(cur.schema.fieldNames.toSeq === Seq("k", "v", "score"))
    assert(rowSet(cur) === rowSet(
      Seq((1, "a", Option.empty[Double]), (2, "b", Some(7.5)))
        .toDF("k", "v", "score")))
    // the pre-widening snapshot still reads with its own narrow schema
    assert(SnapshotLog.read(spark, root, asOf = 1L).schema.fieldNames.toSeq
      === Seq("k", "v"))
    // an append MISSING an existing column keeps it in the table schema
    SnapshotLog.append(spark, root, Seq((3, "c")).toDF("k", "v"))
    val v3 = SnapshotLog.read(spark, root)
    assert(v3.schema.fieldNames.toSeq === Seq("k", "v", "score"))
    assert(v3.filter(col("k") === 2).select("score").head().getDouble(0) === 7.5)
    // same-name column may not silently change type
    intercept[IllegalArgumentException] {
      SnapshotLog.append(spark, root, Seq((4, 9)).toDF("k", "v"))
    }
  }

  test("manifest stats prune range reads to overlapping files only") {
    val root = newRoot()
    // three disjoint-band files (coalesced appends)
    SnapshotLog.append(spark, root,
      Seq((1, "a"), (10, "b")).toDF("k", "v").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((11, "c"), (20, "d")).toDF("k", "v").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((21, "e"), (30, "f")).toDF("k", "v").coalesce(1))
    // stats recorded and carried through append
    val snap = SnapshotLog.snapshot(spark, root, 3L)
    assert(snap.files.size === 3)
    snap.files.foreach(f => assert(f.stats.contains("k") && f.stats.contains("v")))

    // narrow band plans exactly the one overlapping file
    val mid = SnapshotLog.readRange(spark, root, "k", Some("12"), Some("15"))
    assert(plannedFiles(mid).length === 1)
    assert(mid.count() === 0) // band 12..15 has no rows, but file 11..20 overlaps
    val hit = SnapshotLog.readRange(spark, root, "k", Some("11"), Some("20"))
    assert(plannedFiles(hit).length === 1)
    assert(rowSet(hit) === rowSet(Seq((11, "c"), (20, "d")).toDF("k", "v")))
    // string column prunes lexically
    val sv = SnapshotLog.readRange(spark, root, "v", Some("e"), None)
    assert(plannedFiles(sv).length === 1)
    assert(rowSet(sv) === rowSet(Seq((21, "e"), (30, "f")).toDF("k", "v")))
    // unbounded read keeps everything; residual filter still correct
    assert(SnapshotLog.readRange(spark, root, "k", None, None).count() === 6)
    // no overlap at all → zero files, empty frame with the right schema
    val none = SnapshotLog.readRange(spark, root, "k", Some("99"), None)
    assert(plannedFiles(none).isEmpty && none.isEmpty)
    assert(none.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("legacy 2-field manifest lines parse with empty stats and are never pruned") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((5, "x")).toDF("k", "v").coalesce(1))
    // rewrite the manifest in the pre-stats format
    val f = fs(root)
    val m = new Path(f"$root/snap/v${1L}%08d.manifest")
    val snap = SnapshotLog.snapshot(spark, root, 1L)
    val legacy = (Seq(s"1\t0\tappend\t1\t${snap.schemaDdl}") ++
      snap.files.map(fe => s"${fe.path}\t${fe.rows}")).mkString("\n")
    val out = f.create(m, true)
    out.write(legacy.getBytes("UTF-8")); out.close()
    val re = SnapshotLog.snapshot(spark, root, 1L)
    assert(re.files.head.stats.isEmpty)
    // stats-less file is conservatively kept even for a non-overlapping band
    assert(plannedFiles(SnapshotLog.readRange(spark, root, "k", Some("99"), None))
      .length === 1)
  }

  test("optimize clusters into disjoint stat bands with a zero-change commit") {
    val root = newRoot()
    // interleaved appends: every file spans nearly the full key range,
    // so pre-optimize a narrow read prunes nothing
    (0 until 4).foreach { i =>
      SnapshotLog.append(spark, root,
        (i until 40 by 4).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    }
    val pre = SnapshotLog.currentId(spark, root)
    assert(plannedFiles(SnapshotLog.readRange(spark, root, "k", Some("10"), Some("12")))
      .length === 4)

    val post = SnapshotLog.optimize(spark, root, clusterBy = "k", numFiles = 4)
    val snap = SnapshotLog.snapshot(spark, root, post)
    assert(snap.operation === "optimize")
    // content bit-preserved: the optimize commit is changelog-empty
    assert(SnapshotLog.changes(spark, root, pre, post).isEmpty)
    assert(SnapshotLog.read(spark, root).count() === 40)
    // clustered layout: per-file key bands are pairwise disjoint...
    val bands = snap.files.map(f => f.stats("k"))
      .map { case (mn, mx) => (mn.toInt, mx.toInt) }.sortBy(_._1)
    bands.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ =>
    }
    // ...so the same narrow read now plans exactly one file
    assert(plannedFiles(SnapshotLog.readRange(spark, root, "k", Some("10"), Some("12")))
      .length === 1)
    // pre-optimize snapshot still time-travels to the old layout
    assert(SnapshotLog.read(spark, root, asOf = pre).count() === 40)
  }

  test("changelog replays history as per-snapshot deltas from snapshot zero") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1))
    SnapshotLog.mergeInto(spark, root, Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    SnapshotLog.deleteWhere(spark, root, col("k") === 1)
    val feed = SnapshotLog.changelog(spark, root)
      .as[(Int, String, String, Long)].collect().toSet
    assert(feed === Set(
      (1, "a", "insert", 1L), (2, "b", "insert", 1L),    // snapshot 1: seed
      (2, "b", "delete", 2L), (2, "B", "insert", 2L),    // snapshot 2: update...
      (3, "c", "insert", 2L),                            // ...and insert
      (1, "a", "delete", 3L)))                           // snapshot 3: delete
    // resuming from a checkpointed snapshot id yields only the tail
    assert(SnapshotLog.changelog(spark, root, fromId = 2).count() === 1)
    intercept[IllegalArgumentException] {
      SnapshotLog.changelog(spark, root, fromId = 3)
    }
  }

  test("vacuumOrphans reclaims crashed-commit debris but spares young and referenced dirs") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a")).toDF("k", "v"))
    val f = fs(root)
    // a commit that died after its data write, before the manifest rename
    val dead = new Path(s"$root/data/c2_deadbeef")
    f.mkdirs(dead)
    f.setTimes(dead, System.currentTimeMillis() - 7200000L, -1)
    // an in-flight commit's fresh dir — must survive the sweep
    f.mkdirs(new Path(s"$root/data/c2_inflight"))

    assert(SnapshotLog.vacuumOrphans(spark, root) === 1)
    assert(!f.exists(dead))
    assert(f.exists(new Path(s"$root/data/c2_inflight")))
    // referenced dirs untouched; the table still reads
    assert(rowSet(SnapshotLog.read(spark, root)) ===
      rowSet(Seq((1, "a")).toDF("k", "v")))
    // idempotent: nothing left to reclaim at this grace
    assert(SnapshotLog.vacuumOrphans(spark, root) === 0)
  }

  test("CoW delete and merge after widening keep the evolved table schema") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1))
    SnapshotLog.append(spark, root,
      Seq((3, "c", 9.0)).toDF("k", "v", "score").coalesce(1))
    // delete hits only the OLD narrow file — the rewrite must still
    // commit under the evolved 3-column schema, and the predicate may
    // reference the widened column (null on old rows)
    SnapshotLog.deleteWhere(spark, root, col("k") === 1 && col("score").isNull)
    val afterDelete = SnapshotLog.read(spark, root)
    assert(afterDelete.schema.fieldNames.toSeq === Seq("k", "v", "score"))
    assert(rowSet(afterDelete) === rowSet(
      Seq((2, "b", Option.empty[Double]), (3, "c", Some(9.0)))
        .toDF("k", "v", "score")))
    // merge touching the narrow file's row keeps the wide schema too
    SnapshotLog.mergeInto(spark, root,
      Seq((2, "B", 5.5)).toDF("k", "v", "score"), Seq("k"))
    val afterMerge = SnapshotLog.read(spark, root)
    assert(afterMerge.schema.fieldNames.toSeq === Seq("k", "v", "score"))
    assert(rowSet(afterMerge) === rowSet(
      Seq((2, "B", 5.5), (3, "c", 9.0)).toDF("k", "v", "score")))
  }

  test("deleteWhere keeps NULL-predicate rows in rewritten files") {
    val root = newRoot()
    // one file holding a matching row AND a null-status row: the rewrite
    // must keep the null row (it did not match the delete predicate)
    SnapshotLog.append(spark, root,
      Seq((1, Some("F")), (2, None), (3, Some("O")))
        .toDF("k", "status").coalesce(1))
    SnapshotLog.deleteWhere(spark, root, col("status") === "F")
    assert(rowSet(SnapshotLog.read(spark, root)) === rowSet(
      Seq((2, Option.empty[String]), (3, Some("O"))).toDF("k", "status")))
    // and the changelog reports ONLY the matched row as deleted
    assert(rowSet(SnapshotLog.changes(spark, root, 1L, 2L)) === rowSet(
      Seq((1, Some("F"), "delete")).toDF("k", "status", "change")))
  }

  test("empty-string column values roundtrip through manifest stats") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1, ""), (2, "")).toDF("k", "v").coalesce(1))
    val snap = SnapshotLog.snapshot(spark, root, 1L)
    assert(snap.files.head.stats("v") === ("", ""))
    assert(SnapshotLog.read(spark, root).count() === 2)
    // pruning still sound: a band above "" skips nothing it shouldn't
    assert(SnapshotLog.readRange(spark, root, "v", Some(""), Some(""))
      .count() === 2)
  }

  test("mergeInto rejects a source that would retype a table column") {
    val root = newRoot()
    SnapshotLog.append(spark, root, Seq((1, 10L)).toDF("k", "x"))
    // x: long in the table, int in the source — unionByName would
    // silently coerce and write files wider than the recorded DDL
    intercept[IllegalArgumentException] {
      SnapshotLog.mergeInto(spark, root,
        Seq((2, 20)).toDF("k", "x"), Seq("k"))
    }
  }

  test("empty append commits a readable zero-row snapshot with schema") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq((1, "a")).toDF("k", "v").filter(lit(false)))
    val df = SnapshotLog.read(spark, root)
    assert(df.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(df.isEmpty)
  }
}
