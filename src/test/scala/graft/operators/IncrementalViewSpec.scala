package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The IVM fold's algebra: deltas apply with the right sign, emptied
  * groups leave the view, and the maintained view equals the
  * from-scratch aggregation after every kind of commit — the invariant
  * iv1 then proves through the driver oracle at sf scale.
  */
class IncrementalViewSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_iv_spec")
      .resolve("log").toString

  private def viewOf(root: String): Map[String, (Long, Long)] =
    IncrementalView.materialize(spark, root, Seq("g"), Seq("x"))
      .as[(String, Long, Long)].collect()
      .map { case (g, n, sx) => g -> (n, sx) }.toMap

  private def directOf(root: String): Map[String, (Long, Long)] =
    SnapshotLog.read(spark, root)
      .groupBy("g").agg(count(lit(1)), sum("x"))
      .as[(String, Long, Long)].collect()
      .map { case (g, n, sx) => g -> (n, sx) }.toMap

  test("fold tracks appends, upserts, and deletes; emptied groups vanish") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)).toDF("g", "k", "x"))
    assert(viewOf(root) === Map("a" -> (2L, 30L), "b" -> (1L, 30L)))

    // MERGE moves key 2 from group a to group c (delete+insert delta)
    SnapshotLog.mergeInto(spark, root,
      Seq(("c", 2L, 25L)).toDF("g", "k", "x"), Seq("k"))
    assert(viewOf(root) === Map(
      "a" -> (1L, 10L), "b" -> (1L, 30L), "c" -> (1L, 25L)))
    assert(viewOf(root) === directOf(root))

    // deleting group b's only row removes the group entirely
    SnapshotLog.deleteWhere(spark, root, col("g") === "b")
    assert(viewOf(root) === Map("a" -> (1L, 10L), "c" -> (1L, 25L)))
    assert(viewOf(root) === directOf(root))
    assert(!IncrementalView
      .materialize(spark, root, Seq("g"), Seq("x"))
      .select("g").as[String].collect().contains("b"))
  }

  test("fold tracks a MERGE-ON-READ delete and merge: the DV delta folds like any change") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L), ("b", 4L, 40L))
        .toDF("g", "k", "x").repartition(2))
    // positional-vector delete: no file rewrites, but the change feed
    // must still emit the dead rows as deletes for the fold
    SnapshotLog.deleteWhereMoR(spark, root, col("k") === 2L)
    assert(viewOf(root) === Map("a" -> (1L, 10L), "b" -> (2L, 70L)))
    assert(viewOf(root) === directOf(root))
    // MoR merge: key 3 moves group (vector delete + appended insert)
    SnapshotLog.mergeIntoMoR(spark, root,
      Seq(("c", 3L, 35L)).toDF("g", "k", "x"), Seq("k"))
    assert(viewOf(root) === Map(
      "a" -> (1L, 10L), "b" -> (1L, 40L), "c" -> (1L, 35L)))
    assert(viewOf(root) === directOf(root))
    // folding the vectors into files must be invisible to the view
    SnapshotLog.rewriteDeletes(spark, root)
    assert(viewOf(root) === directOf(root))
  }

  test("fold tracks a scan-free EQUALITY merge and delete like any change") {
    val root = newRoot()
    SnapshotLog.append(spark, root,
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L), ("b", 4L, 40L))
        .toDF("g", "k", "x").repartition(2))
    // scan-free upsert: key 2 moves group and value, key 5 is new —
    // the change feed must decompose it into retraction + inserts
    SnapshotLog.mergeIntoEqual(spark, root,
      Seq(("c", 2L, 25L), ("c", 5L, 50L)).toDF("g", "k", "x"), Seq("k"))
    assert(viewOf(root) === Map(
      "a" -> (1L, 10L), "b" -> (2L, 70L), "c" -> (2L, 75L)))
    assert(viewOf(root) === directOf(root))
    // scan-free retraction, then compaction — both view-invariant
    SnapshotLog.deleteWhereEqual(spark, root, Seq(3L).toDF("k"))
    assert(viewOf(root) === Map(
      "a" -> (1L, 10L), "b" -> (1L, 40L), "c" -> (2L, 75L)))
    assert(viewOf(root) === directOf(root))
    SnapshotLog.rewriteEqualityDeletes(spark, root)
    SnapshotLog.rewriteDeletes(spark, root)
    assert(viewOf(root) === directOf(root))
  }

  test("refresh commits view and cursor atomically; re-refresh is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_refresh")
    val table = base.resolve("table").toString
    val view = base.resolve("view").toString
    SnapshotLog.append(spark, table,
      Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("g", "k", "x"))
    assert(IncrementalView.refresh(spark, view, table, Seq("g"), Seq("x")) === 1L)
    assert(SnapshotLog.snapshot(spark, view, 1L).operation === "refresh=1")
    // nothing new: no-op, no snapshot growth (idempotent crash replay)
    assert(IncrementalView.refresh(spark, view, table, Seq("g"), Seq("x")) === 1L)
    assert(SnapshotLog.currentId(spark, view) === 1L)

    // two more table commits; one refresh folds both
    SnapshotLog.append(spark, table, Seq(("a", 3L, 5L)).toDF("g", "k", "x"))
    SnapshotLog.deleteWhere(spark, table, col("g") === "b")
    assert(IncrementalView.refresh(spark, view, table, Seq("g"), Seq("x")) === 3L)
    assert(SnapshotLog.snapshot(spark, view, 2L).operation === "refresh=3")
    val v = SnapshotLog.read(spark, view)
      .as[(String, Long, Long)].collect()
      .map { case (g, n, sx) => g -> (n, sx) }.toMap
    assert(v === Map("a" -> (2L, 15L)))
    // the view keeps its own history: snapshot 1 is the pre-delete view
    val v1 = SnapshotLog.read(spark, view, asOf = 1L)
      .as[(String, Long, Long)].collect()
      .map { case (g, n, sx) => g -> (n, sx) }.toMap
    assert(v1 === Map("a" -> (1L, 10L), "b" -> (1L, 20L)))
  }

  test("applyDelta from empty state equals aggregating the delta's inserts") {
    val delta = Seq(("a", 5L, "insert"), ("a", 7L, "insert"), ("b", 1L, "insert"))
      .toDF("g", "x", "change")
    val v = IncrementalView.applyDelta(None, delta, Seq("g"), Seq("x"))
      .as[(String, Long, Long)].collect()
      .map { case (g, n, sx) => g -> (n, sx) }.toMap
    assert(v === Map("a" -> (2L, 12L), "b" -> (1L, 1L)))
  }

  test("join-view fold equals the direct join across two mutating logs") {
    val rootA = newRoot()
    val rootB = newRoot()
    // A: 3 snapshots (append, delete k=2, update k=3's payload)
    SnapshotLog.append(spark, rootA,
      Seq((1L, 10L, "a1"), (2L, 10L, "a2"), (3L, 20L, "a3")).toDF("k", "fk", "pa"))
    SnapshotLog.deleteWhere(spark, rootA, col("k") === 2L)
    SnapshotLog.mergeInto(spark, rootA,
      Seq((3L, 20L, "a3v2")).toDF("k", "fk", "pa"), Seq("k"))
    // B: 2 snapshots; the SECOND transition changes B while A also
    // changes (transition 2 pairs A's delete with nothing on B;
    // transition alignment exercises one-sided deltas), and the FIRST
    // bootstrap is pure delta-x-delta
    SnapshotLog.append(spark, rootB,
      Seq((10L, "b10"), (20L, "b20")).toDF("fk", "pb"))
    SnapshotLog.mergeInto(spark, rootB,
      Seq((20L, "b20v2")).toDF("fk", "pb"), Seq("fk"))
    val view = IncrementalView.materializeJoin(spark, rootA, rootB,
        "fk", Seq("k", "fk", "pa", "pb"))
      .as[(Long, Long, String, String, Long)].collect().toSet
    val direct = SnapshotLog.read(spark, rootA)
      .join(SnapshotLog.read(spark, rootB), "fk")
      .select(col("k"), col("fk"), col("pa"), col("pb"), lit(1L).as("m"))
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(view === direct)
    assert(view === Set(
      (1L, 10L, "a1", "b10", 1L),
      (3L, 20L, "a3v2", "b20v2", 1L)))
  }

  test("refreshJoin: cursors commit atomically, folds are incremental, re-run is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_jref")
    val rootA = base.resolve("a").toString
    val rootB = base.resolve("b").toString
    val view = base.resolve("view").toString
    val cols = Seq("k", "fk", "pa", "pb")
    SnapshotLog.append(spark, rootA,
      Seq((1L, 10L, "a1"), (2L, 10L, "a2"), (3L, 20L, "a3")).toDF("k", "fk", "pa"))
    SnapshotLog.append(spark, rootB,
      Seq((10L, "b10"), (20L, "b20")).toDF("fk", "pb"))
    // bootstrap
    assert(IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
      === ((1L, 1L)))
    assert(SnapshotLog.snapshot(spark, view, 1L).operation === "refreshjoin=1,1")
    // no-op re-run: no snapshot growth (idempotent crash replay)
    assert(IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
      === ((1L, 1L)))
    assert(SnapshotLog.currentId(spark, view) === 1L)
    // mutate BOTH sides (delete on A, update on B, insert on A), one
    // refresh folds the whole window as one transition
    SnapshotLog.deleteWhere(spark, rootA, col("k") === 2L)
    SnapshotLog.append(spark, rootA, Seq((4L, 20L, "a4")).toDF("k", "fk", "pa"))
    SnapshotLog.mergeInto(spark, rootB,
      Seq((20L, "b20v2")).toDF("fk", "pb"), Seq("fk"))
    assert(IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
      === ((3L, 2L)))
    val got = SnapshotLog.read(spark, view)
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(got === Set(
      (1L, 10L, "a1", "b10", 1L),
      (3L, 20L, "a3", "b20v2", 1L),
      (4L, 20L, "a4", "b20v2", 1L)))
    // the view keeps its own history: snapshot 1 is the bootstrap join
    assert(SnapshotLog.read(spark, view, asOf = 1L).count() === 3L)
  }

  test("refreshJoin folds windows whose inputs mutated by EQUALITY merge") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_jeq")
    val rootA = base.resolve("a").toString
    val rootB = base.resolve("b").toString
    val view = base.resolve("view").toString
    val cols = Seq("k", "fk", "pa", "pb")
    SnapshotLog.append(spark, rootA,
      Seq((1L, 10L, "a1"), (2L, 10L, "a2"), (3L, 20L, "a3")).toDF("k", "fk", "pa"))
    SnapshotLog.append(spark, rootB,
      Seq((10L, "b10"), (20L, "b20")).toDF("fk", "pb"))
    IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
    // both sides mutate scan-free: an eq-merge update+insert on A and
    // an eq-delete on B — the refresh consumes their change feeds like
    // any CoW window (the eq delta decomposes into retraction + adds)
    SnapshotLog.mergeIntoEqual(spark, rootA,
      Seq((2L, 20L, "a2v2"), (4L, 20L, "a4")).toDF("k", "fk", "pa"), Seq("k"))
    SnapshotLog.deleteWhereEqual(spark, rootB, Seq(10L).toDF("fk"))
    IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
    val direct = SnapshotLog.read(spark, rootA)
      .join(SnapshotLog.read(spark, rootB), "fk")
      .select(col("k"), col("fk"), col("pa"), col("pb"), lit(1L).as("m"))
    assert(rowSet(SnapshotLog.read(spark, view)) === rowSet(direct))
    assert(SnapshotLog.read(spark, view).count() === 3L) // a2v2, a3, a4 on fk=20
  }

  test("refreshJoin on bucketed inputs prunes pre-state files and stays exact") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_jbucket")
    val rootA = base.resolve("a").toString
    val rootB = base.resolve("b").toString
    val view = base.resolve("view").toString
    val cols = Seq("k", "fk", "pa", "pb")
    val n = 8
    SnapshotLog.append(spark, rootA,
      (1L to 64L).map(k => (k, k % 16, s"a$k")).toDF("k", "fk", "pa")
        .repartition(4))
    SnapshotLog.optimizeBucketed(spark, rootA, "fk", n)
    SnapshotLog.append(spark, rootB,
      (0L to 15L).map(f => (f, s"b$f")).toDF("fk", "pb").repartition(4))
    SnapshotLog.optimizeBucketed(spark, rootB, "fk", n)
    IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
    // a SINGLE-KEY delta on A: B's pre-state read must prune to the
    // buckets that one fk hashes into — a strict subset of B's files
    SnapshotLog.append(spark, rootA, Seq((100L, 5L, "a100")).toDF("k", "fk", "pa"))
    val bAll = SnapshotLog.snapshot(spark, rootB,
      SnapshotLog.currentId(spark, rootB)).files
    val dA = SnapshotLog.changes(spark, rootA, 2L, 3L)
    val pre = IncrementalView.preState(spark, rootB, 2L, "fk", Some(dA))
    val preFiles = plannedFiles(pre)
    assert(preFiles.nonEmpty && preFiles.length < bAll.size,
      s"pre-state not pruned: ${preFiles.length} of ${bAll.size}")
    // and the pruned pre-state holds exactly the delta-bucket's rows
    val deltaBucket = spark.range(1)
      .select(pmod(hash(lit(5L)), lit(n)).cast("long")).head().getLong(0)
    assert(rowSet(pre) === rowSet(SnapshotLog.read(spark, rootB, asOf = 2L)
      .filter(pmod(hash(col("fk")), lit(n)).cast("long") === deltaBucket)))
    IncrementalView.refreshJoin(spark, view, rootA, rootB, "fk", cols)
    val direct = SnapshotLog.read(spark, rootA)
      .join(SnapshotLog.read(spark, rootB), "fk")
      .select(col("k"), col("fk"), col("pa"), col("pb"), lit(1L).as("m"))
    assert(rowSet(SnapshotLog.read(spark, view)) === rowSet(direct))
  }

  test("refreshJoinAgg maintains the summary without materializing the join") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_jagg")
    val rootA = base.resolve("a").toString
    val rootB = base.resolve("b").toString
    val view = base.resolve("view").toString
    SnapshotLog.append(spark, rootA,
      Seq((1L, 10L, 5L), (2L, 10L, 7L), (3L, 20L, 11L)).toDF("k", "fk", "x"))
    SnapshotLog.append(spark, rootB,
      Seq((10L, "g1"), (20L, "g2")).toDF("fk", "g"))
    IncrementalView.refreshJoinAgg(spark, view, rootA, rootB, "fk",
      keys = Seq("g"), sumCols = Seq("x"))
    def v(): Map[String, (Long, Long)] =
      SnapshotLog.read(spark, view).as[(String, Long, Long)]
        .collect().map { case (g, n, sx) => g -> (n, sx) }.toMap
    assert(v() === Map("g1" -> (2L, 12L), "g2" -> (1L, 11L)))
    assert(SnapshotLog.snapshot(spark, view, 1L).operation === "refreshjoinagg=1,1")
    // mutate both sides: delete k=1 (A), move fk=20 to group g3 (B);
    // the refresh folds ONE window and never stores the join
    SnapshotLog.deleteWhere(spark, rootA, col("k") === 1L)
    SnapshotLog.mergeInto(spark, rootB, Seq((20L, "g3")).toDF("fk", "g"), Seq("fk"))
    IncrementalView.refreshJoinAgg(spark, view, rootA, rootB, "fk",
      keys = Seq("g"), sumCols = Seq("x"))
    assert(v() === Map("g1" -> (1L, 7L), "g3" -> (1L, 11L)))
    // no-op re-run: cursor already current, no snapshot growth
    val snaps = SnapshotLog.currentId(spark, view)
    IncrementalView.refreshJoinAgg(spark, view, rootA, rootB, "fk",
      keys = Seq("g"), sumCols = Seq("x"))
    assert(SnapshotLog.currentId(spark, view) === snaps)
  }

  test("minmax fold: monotone inserts, delete-touched recompute, vanishing group") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_mm")
    val table = base.resolve("table").toString
    val view = base.resolve("view").toString
    val keys = Seq("g")
    val mm = Seq("x")
    SnapshotLog.append(spark, table,
      Seq(("a", 1L, 10L), ("a", 2L, 50L), ("b", 3L, 7L)).toDF("g", "k", "x"))
    assert(IncrementalView.refreshMinMax(spark, view, table, keys, mm) === 1L)
    def v(): Map[String, (Long, Long, Long)] =
      SnapshotLog.read(spark, view).as[(String, Long, Long, Long)]
        .collect().map { case (g, n, mn, mx) => g -> (n, mn, mx) }.toMap
    assert(v() === Map("a" -> (2L, 10L, 50L), "b" -> (1L, 7L, 7L)))
    // insert-only refresh folds monotonically (no recompute needed)
    SnapshotLog.append(spark, table, Seq(("a", 4L, 3L)).toDF("g", "k", "x"))
    IncrementalView.refreshMinMax(spark, view, table, keys, mm)
    assert(v() === Map("a" -> (3L, 3L, 50L), "b" -> (1L, 7L, 7L)))
    // delete group a's MAX row (the case the additive fold cannot do)
    // and ALL of group b (the group must vanish)
    SnapshotLog.deleteWhere(spark, table, col("x") === 50L || col("g") === "b")
    IncrementalView.refreshMinMax(spark, view, table, keys, mm)
    assert(v() === Map("a" -> (2L, 3L, 10L)))
    // re-run is a no-op
    val snaps = SnapshotLog.currentId(spark, view)
    IncrementalView.refreshMinMax(spark, view, table, keys, mm)
    assert(SnapshotLog.currentId(spark, view) === snaps)
  }

  test("NULL group keys fold as one group across every view kind") {
    // additive fold: a null-key group must aggregate, not fork
    val base = java.nio.file.Files.createTempDirectory("graft_iv_null")
    val table = base.resolve("table").toString
    val view = base.resolve("view").toString
    SnapshotLog.append(spark, table,
      Seq((Option.empty[String], 1L, 10L), (Some("a"), 2L, 5L),
        (Option.empty[String], 3L, 7L)).toDF("g", "k", "x"))
    IncrementalView.refresh(spark, view, table, Seq("g"), Seq("x"))
    SnapshotLog.deleteWhere(spark, table, col("k") === 1L)
    IncrementalView.refresh(spark, view, table, Seq("g"), Seq("x"))
    val v = SnapshotLog.read(spark, view)
      .as[(Option[String], Long, Long)].collect()
      .map { case (g, n, sx) => g -> (n, sx) }.toMap
    assert(v === Map(Option.empty[String] -> (1L, 7L), Some("a") -> (1L, 5L)),
      "null-key group must fold deletes like any other group")
    // min/max fold: delete-touched NULL group must recompute
    val mmView = base.resolve("mm").toString
    val t2 = base.resolve("t2").toString
    SnapshotLog.append(spark, t2,
      Seq((Option.empty[String], 1L, 50L), (Option.empty[String], 2L, 10L))
        .toDF("g", "k", "x"))
    IncrementalView.refreshMinMax(spark, mmView, t2, Seq("g"), Seq("x"))
    SnapshotLog.deleteWhere(spark, t2, col("x") === 50L)
    IncrementalView.refreshMinMax(spark, mmView, t2, Seq("g"), Seq("x"))
    val mm = SnapshotLog.read(spark, mmView)
      .as[(Option[String], Long, Long, Long)].collect().toSeq
    assert(mm === Seq((Option.empty[String], 1L, 10L, 10L)),
      "deleted max of a null-key group must recompute")
  }

  test("NULL measures: deleted last non-null extremum recomputes to NULL, not stale") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_nullv")
    val table = base.resolve("table").toString
    val view = base.resolve("view").toString
    SnapshotLog.append(spark, table,
      Seq(("a", 1L, Some(5L)), ("a", 2L, Option.empty[Long]))
        .toDF("g", "k", "x"))
    IncrementalView.refreshMinMax(spark, view, table, Seq("g"), Seq("x"))
    // delete the only non-null row: the recomputed bound is genuinely
    // NULL and must replace the stale 5, not fall back to it
    SnapshotLog.deleteWhere(spark, table, col("k") === 1L)
    IncrementalView.refreshMinMax(spark, view, table, Seq("g"), Seq("x"))
    val r = SnapshotLog.read(spark, view).collect()
    assert(r.length === 1 && r(0).getLong(1) === 1L)
    assert(r(0).isNullAt(2) && r(0).isNullAt(3),
      s"stale bound survived an all-null recompute: ${r(0)}")
  }

  test("delta-x-delta cross term: same-batch inserts on both sides join once") {
    val rootA = newRoot()
    val rootB = newRoot()
    SnapshotLog.append(spark, rootA, Seq((1L, 5L, "a")).toDF("k", "fk", "pa"))
    SnapshotLog.append(spark, rootB, Seq((5L, "b")).toDF("fk", "pb"))
    val view = IncrementalView.materializeJoin(spark, rootA, rootB,
        "fk", Seq("k", "fk", "pa", "pb"))
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(view === Set((1L, 5L, "a", "b", 1L)))
  }

  test("join min/max view: deletes on each side recompute only touched groups") {
    val base = java.nio.file.Files.createTempDirectory("graft_iv_jmm")
    val rootA = base.resolve("a").toString
    val rootB = base.resolve("b").toString
    val view = base.resolve("view").toString
    // A: (fk, x); B: (fk, g) — group key g lives on B only
    SnapshotLog.append(spark, rootA,
      (1L to 40L).map(k => (k, k % 8, k * 10)).toDF("k", "fk", "x")
        .repartition(2))
    SnapshotLog.append(spark, rootB,
      (0L to 7L).map(f => (f, s"g${f % 3}")).toDF("fk", "g").repartition(2))
    IncrementalView.refreshJoinAggMinMax(spark, view, rootA, rootB, "fk",
      keys = Seq("g"), mmCols = Seq("x"))
    def direct() = SnapshotLog.read(spark, rootA)
      .join(SnapshotLog.read(spark, rootB), "fk")
      .groupBy("g").agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"))
    assert(rowSet(SnapshotLog.read(spark, view)) === rowSet(direct()))
    // delete the max-carrying rows on A and a whole fk on B
    SnapshotLog.deleteWhere(spark, rootA, col("x") >= 350L)
    SnapshotLog.deleteWhere(spark, rootB, col("fk") === 2L)
    IncrementalView.refreshJoinAggMinMax(spark, view, rootA, rootB, "fk",
      keys = Seq("g"), mmCols = Seq("x"))
    assert(rowSet(SnapshotLog.read(spark, view)) === rowSet(direct()))
    // re-run is a no-op (cursor protocol)
    IncrementalView.refreshJoinAggMinMax(spark, view, rootA,
      rootB, "fk", keys = Seq("g"), mmCols = Seq("x"))
    assert(rowSet(SnapshotLog.read(spark, view)) === rowSet(direct()))
  }

  test("regroupSide plans a strict file subset on a group-key-bucketed table") {
    val root = java.nio.file.Files.createTempDirectory("graft_iv_regroup")
      .resolve("log").toString
    SnapshotLog.append(spark, root,
      (1L to 64L).map(k => (k, s"g${k % 8}", k * 10)).toDF("fk", "g", "x")
        .repartition(4))
    SnapshotLog.optimizeBucketed(spark, root, "g", 8)
    val cur = SnapshotLog.currentId(spark, root)
    val touched = Seq("g3").toDF("g")
    val pruned = IncrementalView.regroupSide(spark, root, cur,
      Seq("g"), touched, Seq("fk", "g", "x"))
    val all = SnapshotLog.snapshot(spark, root, cur).files
    val prunedFiles = plannedFiles(pruned)
    assert(prunedFiles.nonEmpty && prunedFiles.length < all.size,
      s"regroup not pruned: ${prunedFiles.length} of ${all.size}")
    // THE STRONG FORM: delete every file outside the touched bucket —
    // the regroup must still answer, proving those were never planned
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val plannedNames = prunedFiles.toSet
    all.map(_.path).filterNot(plannedNames)
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(s"$root/$p"), false))
    val got = IncrementalView.regroupSide(spark, root, cur,
      Seq("g"), touched, Seq("fk", "g", "x"))
      .filter(col("g") === "g3")
    assert(rowSet(got) === rowSet(
      (1L to 64L).filter(_ % 8 == 3).map(k => (k, "g3", k * 10))
        .toDF("fk", "g", "x")))
  }

  test("distinct view: multiplicity decrements, vanishing pairs, NULL value exclusion") {
    val table = newRoot()
    val view = newRoot()
    def distinctOf(): Map[String, (Long, Long)] =
      IncrementalView.readDistinct(spark, view, Seq("g"), "v")
        .as[(String, Long, Long)].collect()
        .map { case (g, d, n) => g -> (d, n) }.toMap
    // group a: value 10 twice (multiplicity 2) + 20 once; b: one NULL
    // value (counts a row, not a distinct)
    SnapshotLog.append(spark, table,
      Seq(("a", 1L, Some(10L)), ("a", 2L, Some(10L)), ("a", 3L, Some(20L)),
        ("b", 4L, None)).toDF("g", "k", "v"))
    IncrementalView.refreshDistinct(spark, view, table, Seq("g"), "v")
    assert(distinctOf() === Map("a" -> (2L, 3L), "b" -> (0L, 1L)))

    // delete ONE of value 10's two rows: multiplicity 2 -> 1, the
    // distinct count must NOT drop
    SnapshotLog.deleteWhere(spark, table, col("k") === 1L)
    IncrementalView.refreshDistinct(spark, view, table, Seq("g"), "v")
    assert(distinctOf() === Map("a" -> (2L, 2L), "b" -> (0L, 1L)))

    // delete the last value-10 row: the pair leaves the support table
    // and the distinct count drops; b's NULL row deletes its group away
    SnapshotLog.deleteWhere(spark, table, col("k") === 2L || col("g") === "b")
    IncrementalView.refreshDistinct(spark, view, table, Seq("g"), "v")
    assert(distinctOf() === Map("a" -> (1L, 1L)))

    // the maintained answer equals from-scratch COUNT(DISTINCT) wholesale
    val direct = SnapshotLog.read(spark, table)
      .groupBy("g").agg(countDistinct(col("v")), count(lit(1)))
      .as[(String, Long, Long)].collect()
      .map { case (g, d, n) => g -> (d, n) }.toMap
    assert(distinctOf() === direct)
  }
}
