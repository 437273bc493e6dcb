package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.SnapshotLog

/** SQL MERGE INTO / UPDATE over catalog tables: pure SQL text must be
  * observationally identical to the library's mergeIntoMoR — and pay
  * the same write cost: matched rows die via a positional delete
  * vector, ZERO pre-existing data files rewritten.
  */
class SnapshotDmlSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snapdml",
      classOf[graft.sources.SnapshotCatalog].getName)
    "snapdml"
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dvDirs(root: String): Seq[String] =
    fs(root).listStatus(new Path(s"$root/data")).toSeq
      .map(_.getPath.getName).filter(_.contains("_dv_"))

  private def newLog(tag: String): String = {
    import spark.implicits._
    val root = graft.TempDirs.create(s"dml_$tag").resolve("log").toString
    SnapshotLog.append(spark, root,
      (1 to 100).map(k => (k.toLong, s"v$k")).toDF("k", "v").repartition(4))
    root
  }

  test("SQL MERGE upsert matches mergeIntoMoR row-for-row") {
    import spark.implicits._
    val sqlRoot = newLog("sql")
    val libRoot = newLog("lib")
    val src = ((1 to 10).map(k => (k * 10L, "X")) ++
      Seq((200L, "new1"), (201L, "new2"))).toDF("k", "v")
    src.createOrReplaceTempView("dml_src")
    spark.sql(s"MERGE INTO $cat.`$sqlRoot` t USING dml_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    SnapshotLog.mergeIntoMoR(spark, libRoot, src, Seq("k"))
    assert(rowSet(SnapshotLog.read(spark, sqlRoot)) ==
      rowSet(SnapshotLog.read(spark, libRoot)))
    assert(SnapshotLog.read(spark, sqlRoot).count() == 102L)
    assert(SnapshotLog.operationOf(spark, sqlRoot, 2L) == "mor-merge")
  }

  test("matched rows die via vectors — no pre-existing file rewritten") {
    import spark.implicits._
    val root = newLog("vec")
    val before = SnapshotLog.snapshot(spark, root, 1L)
    val stamps = before.files.map { f =>
      f.path -> fs(root).getFileStatus(new Path(s"$root/${f.path}"))
        .getModificationTime
    }.toMap
    Seq((10L, "X"), (999L, "new")).toDF("k", "v")
      .createOrReplaceTempView("dml_vec_src")
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_vec_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val after = SnapshotLog.snapshot(spark, root, 2L)
    // every pre-existing data file is CARRIED, byte-untouched
    assert(before.files.map(_.path).toSet.subsetOf(
      after.files.map(_.path).toSet))
    before.files.foreach { f =>
      assert(fs(root).getFileStatus(new Path(s"$root/${f.path}"))
        .getModificationTime == stamps(f.path))
    }
    // the matched row died via a positional delete vector
    assert(dvDirs(root).size == 1)
    assert(SnapshotLog.read(spark, root).filter(col("k") === 10L)
      .select("v").head().getString(0) == "X")
    assert(SnapshotLog.read(spark, root).count() == 101L)
  }

  test("conditional arms evaluate first-match-wins, DELETE arm kills") {
    import spark.implicits._
    val root = newLog("arms")
    Seq((10L, "zap"), (20L, "up"), (300L, "zap"), (301L, "ins"))
      .toDF("k", "v").createOrReplaceTempView("dml_arms_src")
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_arms_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.v = 'zap' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = concat(s.v, '-', t.v) " +
      "WHEN NOT MATCHED AND s.v = 'ins' THEN INSERT *")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 100L) // -1 (deleted 10) +1 (inserted 301)
    assert(out.filter(col("k") === 10L).count() == 0L)
    assert(out.filter(col("k") === 20L).select("v").head().getString(0)
      == "up-v20")
    assert(out.filter(col("k") === 300L).count() == 0L,
      "a non-matching NOT MATCHED arm condition must not insert")
    assert(out.filter(col("k") === 301L).count() == 1L)
  }

  test("NOT MATCHED BY SOURCE arms see target-only rows") {
    import spark.implicits._
    val root = newLog("bysrc")
    Seq((1L, "keep")).toDF("k", "v").createOrReplaceTempView("dml_bysrc_src")
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_bysrc_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND t.k > 98 THEN DELETE")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 98L) // 99 and 100 die, 1 updated in place
    assert(out.filter(col("k") === 1L).select("v").head().getString(0) == "keep")
  }

  test("SQL UPDATE commits one MoR snapshot with partial assignments") {
    val root = newLog("upd")
    val before = SnapshotLog.snapshot(spark, root, 1L).files.map(_.path).toSet
    spark.sql(s"UPDATE $cat.`$root` SET v = upper(v) WHERE k <= 3")
    assert(SnapshotLog.operationOf(spark, root, 2L) == "mor-update")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 100L)
    assert(rowSet(out.filter(col("k") <= 3L).select("v")) ==
      Seq(Seq("V1"), Seq("V2"), Seq("V3")))
    // carried files untouched; the update wrote only a DV + its own rows
    assert(before.subsetOf(
      SnapshotLog.snapshot(spark, root, 2L).files.map(_.path).toSet))
    assert(dvDirs(root).size == 1)
    // time travel still reads the pre-update state
    assert(SnapshotLog.read(spark, root, asOf = 1L)
      .filter(col("k") === 1L).select("v").head().getString(0) == "v1")
  }

  test("cardinality violation fails loudly, nothing committed") {
    import spark.implicits._
    val root = newLog("card")
    Seq((10L, "x"), (10L, "y")).toDF("k", "v")
      .createOrReplaceTempView("dml_card_src")
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.`$root` t USING dml_card_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e.getMessage.contains("cardinality"))
    assert(SnapshotLog.currentId(spark, root) == 1L, "no commit landed")
  }

  test("DML against a time-travel snapshot is refused") {
    import spark.implicits._
    val root = newLog("tt")
    Seq((1L, "x")).toDF("k", "v").createOrReplaceTempView("dml_tt_src")
    intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.`$root` VERSION AS OF 1 t " +
        "USING dml_tt_src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *")
    }
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.`$root` VERSION AS OF 1 SET v = 'x'")
    }
    assert(SnapshotLog.currentId(spark, root) == 1L)
  }

  test("pure-DELETE merge, zero-match update, and empty CTAS all commit sanely") {
    import spark.implicits._
    // WHEN MATCHED THEN DELETE only — the adds side is EMPTY
    val root = newLog("edge")
    Seq((10L, "x"), (20L, "y")).toDF("k", "v")
      .createOrReplaceTempView("dml_edge_src")
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_edge_src s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE")
    assert(SnapshotLog.read(spark, root).count() == 98L)
    // UPDATE matching nothing — both the DV and the adds are empty
    spark.sql(s"UPDATE $cat.`$root` SET v = 'z' WHERE k > 100000")
    assert(SnapshotLog.read(spark, root).count() == 98L)
    // MERGE matching nothing at runtime (conditions all false)
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_edge_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.v = 'nope' THEN UPDATE SET *")
    assert(SnapshotLog.read(spark, root).count() == 98L)
    // empty CTAS (LIMIT 0) — the staged commit carries zero rows
    val ctasRoot = graft.TempDirs.create("dml_edge_wh")
      .resolve("empty_ctas").toString
    spark.sql(s"CREATE TABLE $cat.`$ctasRoot` AS " +
      s"SELECT * FROM $cat.`$root` LIMIT 0")
    assert(spark.sql(s"SELECT * FROM $cat.`$ctasRoot`").count() == 0L)
    spark.sql(s"INSERT INTO $cat.`$ctasRoot` VALUES (1, 'a')")
    assert(spark.sql(s"SELECT * FROM $cat.`$ctasRoot`").count() == 1L)
  }

  test("DELETE with an untranslatable predicate executes as a CoW commit") {
    val root = newLog("delx")
    // `k % 7 = 3` has no sources.Filter translation — the plain
    // SupportsDelete door would refuse it; the DML rewrite lifts that
    spark.sql(s"DELETE FROM $cat.`$root` WHERE k % 7 = 3 AND length(v) > 1")
    assert(SnapshotLog.operationOf(spark, root,
      SnapshotLog.currentId(spark, root)) == "delete")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 100L - (1L to 100L).count(_ % 7 == 3))
    assert(out.filter(col("k") % 7 === 3).count() == 0L)
    // pre-delete snapshot still addressable
    assert(SnapshotLog.read(spark, root, asOf = 1L).count() == 100L)
    // a self-referencing uncorrelated subquery now executes too (the
    // MoR route — the subquery reads the PRE-delete pinned state)
    spark.sql(s"DELETE FROM $cat.`$root` WHERE k IN " +
      s"(SELECT k FROM $cat.`$root` WHERE v = 'v1')")
    assert(SnapshotLog.read(spark, root).filter(col("k") === 1L)
      .count() == 0L)
  }

  test("merge discovery prunes target files from the source's key range") {
    import spark.implicits._
    val root = graft.TempDirs.create("dml_prune").resolve("log").toString
    // 8 range-disjoint files over k ∈ [1, 800]
    SnapshotLog.append(spark, root,
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(8, col("k")))
    assert(SnapshotLog.snapshot(spark, root, 1L).files.size == 8)
    // a NARROW source: keys 301..320 — one band
    (301L to 320L).map(k => (k, "X")).toDF("k", "v")
      .createOrReplaceTempView("dml_prune_src")
    // THE STRONG FORM: delete every file that cannot hold a match —
    // if discovery scanned them, the merge would crash on missing files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = SnapshotLog.snapshot(spark, root, 1L).files
    val out = files.filter { f =>
      val (lo, hi) = f.stats("k")
      hi.toLong < 301L || lo.toLong > 320L
    }
    assert(out.size >= 6, s"staging must leave most files out of band (${out.size})")
    out.foreach(f => fs.delete(new Path(s"$root/${f.path}"), false))
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_prune_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // the band reads back fully merged (full reads would hit the holes)
    val band = SnapshotLog.readRange(spark, root, "k",
      Some("301"), Some("320"))
    assert(band.count() == 20L)
    assert(band.select("v").distinct().head().getString(0) == "X")
    // UPDATE's WHERE-box pruning gets the same strong proof
    spark.sql(s"UPDATE $cat.`$root` SET v = 'Y' WHERE k >= 305 AND k <= 310")
    assert(SnapshotLog.readRange(spark, root, "k", Some("305"), Some("310"))
      .filter(col("v") === "Y").count() == 6L)
    // BY SOURCE arms need the whole table: with holes on disk they fail
    intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.`$root` t USING dml_prune_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    }
  }

  test("merge into an updated table applies over outstanding vectors") {
    import spark.implicits._
    val root = newLog("stack")
    spark.sql(s"UPDATE $cat.`$root` SET v = 'first' WHERE k = 1")
    Seq((1L, "second")).toDF("k", "v").createOrReplaceTempView("dml_stack_src")
    spark.sql(s"MERGE INTO $cat.`$root` t USING dml_stack_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET *")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 100L)
    assert(out.filter(col("k") === 1L).select("v").head().getString(0)
      == "second")
  }

  test("SQL DELETE after UPDATE rides the MoR door while vectors are out") {
    val root = newLog("updel")
    spark.sql(s"UPDATE $cat.`$root` SET v = 'U' WHERE k <= 10")
    // the CoW deleteWhere refuses while vectors are outstanding; the
    // SQL door must route to the MoR delete instead of failing
    spark.sql(s"DELETE FROM $cat.`$root` WHERE k % 2 = 1")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 50L)
    assert(out.filter(col("k") % 2 === 1).count() == 0L)
    assert(out.filter(col("v") === "U").count() == 5L)
    assert(SnapshotLog.operationOf(spark, root, 3L) == "mor-delete")
  }

  test("branch-pinned MERGE and UPDATE are refused, not misrouted to MAIN") {
    import spark.implicits._
    val root = newLog("brpin")
    SnapshotLog.createBranch(spark, root, "wip")
    Seq((1L, "X")).toDF("k", "v").createOrReplaceTempView("dml_brpin_src")
    intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.`$root` VERSION AS OF 'wip' t " +
        "USING dml_brpin_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.`$root` VERSION AS OF 'wip' SET v = 'X' " +
        "WHERE k = 1")
    }
    // the guard itself (defense in depth if the parser ever admits a
    // branch-pinned target): a branch-pinned table through the rule
    // must refuse, never silently write to MAIN's head
    val t = new graft.sources.SnapshotTableV2(root, 0L,
      Some(("wip", SnapshotLog.branchPin(spark, root, "wip"))))
    val rel = org.apache.spark.sql.execution.datasources.v2
      .DataSourceV2Relation.create(t, None, None)
    val ep = intercept[IllegalArgumentException] {
      SnapshotDmlRule.apply(
        org.apache.spark.sql.catalyst.plans.logical.UpdateTable(
          rel, Seq.empty, None))
    }
    assert(ep.getMessage.contains("pinned"))
    // MAIN is untouched — the guard fired before any commit
    assert(SnapshotLog.currentId(spark, root) == 1L)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target additively") {
    import spark.implicits._
    val root = newLog("evolve")
    Seq((10L, "X", 3.5), (200L, "new", 9.9)).toDF("k", "v", "score")
      .createOrReplaceTempView("dml_evolve_src")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $cat.`$root` t " +
      "USING dml_evolve_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val out = SnapshotLog.read(spark, root)
    assert(out.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(out.count() == 101L)
    // matched + inserted rows carry the new column's source values
    assert(out.filter(col("k") === 10L).select("v", "score").head()
      == org.apache.spark.sql.Row("X", 3.5))
    assert(out.filter(col("k") === 200L).select("score").head().getDouble(0)
      == 9.9)
    // every pre-existing row reads NULL for the evolved column
    assert(out.filter(col("score").isNull).count() == 99L)
    // the evolution itself was a metadata-only add-column commit
    assert(SnapshotLog.operationOf(spark, root, 2L) == "add-column")
    assert(SnapshotLog.operationOf(spark, root, 3L) == "mor-merge")
  }

  test("MERGE without SCHEMA EVOLUTION still rejects unknown source columns") {
    import spark.implicits._
    val root = newLog("noevo")
    Seq((10L, "X", 1.0)).toDF("k", "v", "score")
      .createOrReplaceTempView("dml_noevo_src")
    intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.`$root` t USING dml_noevo_src s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.score = s.score")
    }
    assert(SnapshotLog.read(spark, root).schema.fieldNames.toSeq
      == Seq("k", "v"))
  }

  test("DELETE with an uncorrelated subquery predicate takes the MoR route") {
    import spark.implicits._
    val root = newLog("subq")
    Seq(1L, 3L, 5L, 200L).toDF("dk").createOrReplaceTempView("dml_subq_keys")
    spark.sql(s"DELETE FROM $cat.`$root` " +
      "WHERE k IN (SELECT dk FROM dml_subq_keys) AND v <> 'v5'")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 98L) // 1 and 3 die; 5 survives (v5); 200 absent
    assert(out.filter(col("k").isin(1L, 3L)).count() == 0L)
    assert(out.filter(col("k") === 5L).count() == 1L)
    assert(SnapshotLog.operationOf(spark, root, 2L) == "mor-delete")
    // NOT IN (null-free set) and EXISTS forms work too
    spark.sql(s"DELETE FROM $cat.`$root` WHERE k >= 90 AND " +
      "k NOT IN (SELECT dk FROM dml_subq_keys)")
    assert(SnapshotLog.read(spark, root).count() == 87L) // 90..100 die
    // a CORRELATED EXISTS decorrelates into a semi-join on the
    // discovery frame: kills the remaining listed key (5)
    spark.sql(s"DELETE FROM $cat.`$root` t WHERE EXISTS " +
      "(SELECT 1 FROM dml_subq_keys s WHERE s.dk = t.k)")
    val after = SnapshotLog.read(spark, root)
    assert(after.count() == 86L)
    assert(after.filter(col("k") === 5L).count() == 0L)
    assert(SnapshotLog.operationOf(spark, root,
      SnapshotLog.currentId(spark, root)) == "mor-delete")
  }

  test("correlated DELETE/UPDATE decorrelate into joins (retention shape)") {
    import spark.implicits._
    val root = newLog("corr")
    // tombstones: the canonical retention/GC statement `DELETE …
    // WHERE EXISTS (… s.k = t.k AND s.cond)`
    Seq((10L, true), (20L, true), (30L, false))
      .toDF("tk", "purge").createOrReplaceTempView("dml_corr_tomb")
    spark.sql(s"DELETE FROM $cat.`$root` t WHERE EXISTS " +
      "(SELECT 1 FROM dml_corr_tomb s WHERE s.tk = t.k AND s.purge)")
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 98L)
    assert(out.filter(col("k").isin(10L, 20L)).count() == 0L)
    assert(out.filter(col("k") === 30L).count() == 1L, "purge=false survives")
    // correlated NOT EXISTS = anti-join: keep only tombstoned keys
    spark.sql(s"DELETE FROM $cat.`$root` t WHERE k <= 5 AND NOT EXISTS " +
      "(SELECT 1 FROM dml_corr_tomb s WHERE s.tk = t.k)")
    assert(SnapshotLog.read(spark, root).filter(col("k") <= 5L).count() == 0L)
    // correlated scalar subquery in SET, correlated IN in WHERE
    Seq((50L, "A"), (60L, "B")).toDF("mk", "label")
      .createOrReplaceTempView("dml_corr_lab")
    spark.sql(s"UPDATE $cat.`$root` t SET v = " +
      "(SELECT concat(label, '!') FROM dml_corr_lab s WHERE s.mk = t.k) " +
      "WHERE t.k IN (SELECT mk FROM dml_corr_lab WHERE label <> 'zzz')")
    val upd = SnapshotLog.read(spark, root)
    assert(upd.filter(col("k") === 50L).select("v").head().getString(0) == "A!")
    assert(upd.filter(col("k") === 60L).select("v").head().getString(0) == "B!")
    assert(upd.filter(col("k") === 70L).select("v").head().getString(0) == "v70",
      "rows outside the WHERE keep their value")
    // correlated EXISTS in UPDATE's WHERE
    spark.sql(s"UPDATE $cat.`$root` t SET v = 'E' WHERE EXISTS " +
      "(SELECT 1 FROM dml_corr_tomb s WHERE s.tk = t.k AND NOT s.purge)")
    assert(SnapshotLog.read(spark, root).filter(col("v") === "E")
      .select("k").as[Long].collect().toSet == Set(30L))
  }

  test("correlated DELETE races a concurrent MERGE: disjoint rebases, same-key aborts") {
    import spark.implicits._
    val root = newLog("corrrace")
    Seq(1L, 2L, 3L).toDF("tk").createOrReplaceTempView("dml_race_tomb")
    // a MERGE discovers against base 1 (stale once the DELETE lands)
    val pos =
      SnapshotLog.readPosForDml(spark, SnapshotLog.resolve(spark, root, 1L))
    val hit = pos.filter(col("k").isin(90L, 91L))
    val dead = hit.select(col("__path").as("t_path"),
      col("__pos").as("t_pos"))
    val adds = hit.select(col("k"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("m"), col("k")).as("v"))
    // the correlated DELETE wins the publish first (snapshot 2)
    spark.sql(s"DELETE FROM $cat.`$root` t WHERE EXISTS " +
      "(SELECT 1 FROM dml_race_tomb s WHERE s.tk = t.k)")
    assert(SnapshotLog.currentId(spark, root) == 2L)
    // disjoint keys: the stale merge validates and REBASES onto 2
    assert(SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(dead), adds) == 3L)
    val out = SnapshotLog.read(spark, root)
    assert(out.count() == 97L)
    assert(out.filter(col("k") <= 3L).count() == 0L, "delete held")
    assert(out.filter(col("v").startsWith("m")).count() == 2L, "merge held")
    // same-key race: a stale merge touching a row the correlated
    // DELETE killed must abort loudly, never resurrect it
    Seq(50L).toDF("tk").createOrReplaceTempView("dml_race_tomb2")
    val pos2 =
      SnapshotLog.readPosForDml(spark, SnapshotLog.resolve(spark, root, 3L))
    val hit2 = pos2.filter(col("k") === 50L)
    val dead2 = hit2.select(col("__path").as("t_path"),
      col("__pos").as("t_pos"))
    val adds2 = hit2.select(col("k"),
      org.apache.spark.sql.functions.lit("clobber").as("v"))
    spark.sql(s"DELETE FROM $cat.`$root` t WHERE EXISTS " +
      "(SELECT 1 FROM dml_race_tomb2 s WHERE s.tk = t.k)")
    intercept[Exception] {
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 3L), Some(dead2), adds2)
    }
    assert(SnapshotLog.read(spark, root).filter(col("k") === 50L)
      .count() == 0L, "the deleted row stayed dead")
  }

  test("correlated subqueries in MERGE arm conditions decorrelate") {
    import spark.implicits._
    val root = newLog("corrmerge")
    Seq(10L, 20L, 30L).toDF("ak").createOrReplaceTempView("dml_cm_allow")
    (1 to 10).map(k => (k * 10L, "S")).toDF("k", "v")
      .createOrReplaceTempView("dml_cm_src")
    // EXISTS in WHEN MATCHED: only the allow-listed keys update — the
    // binder rebinds t.k onto the discovery frame and the probe plans
    // as a semi-join inside the arm filter
    spark.sql(
      s"""MERGE INTO $cat.`$root` t USING dml_cm_src s ON t.k = s.k
         |WHEN MATCHED AND EXISTS (
         |  SELECT 1 FROM dml_cm_allow a WHERE a.ak = t.k)
         |THEN UPDATE SET v = s.v""".stripMargin)
    val out = SnapshotLog.read(spark, root)
    assert(out.filter(col("v") === "S").select("k").as[Long]
      .collect().toSet == Set(10L, 20L, 30L))
    assert(out.count() == 100L, "non-allowed matches ride through")
    assert(SnapshotLog.operationOf(spark, root, 2L) == "mor-merge")
    // NOT EXISTS in a DELETE arm: matched keys OUTSIDE the allow list
    // die (40..100 by tens = 7 rows)
    spark.sql(
      s"""MERGE INTO $cat.`$root` t USING dml_cm_src s ON t.k = s.k
         |WHEN MATCHED AND NOT EXISTS (
         |  SELECT 1 FROM dml_cm_allow a WHERE a.ak = t.k)
         |THEN DELETE""".stripMargin)
    val out2 = SnapshotLog.read(spark, root)
    assert(out2.count() == 93L)
    assert(out2.filter(col("k") === 40L).count() == 0L)
    assert(out2.filter(col("k") === 30L).count() == 1L, "allowed key kept")
  }

  test("correlated MERGE races a stale commit: disjoint rebases, same-key aborts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val root = newLog("cmrace")
    Seq(50L, 60L).toDF("ak").createOrReplaceTempView("dml_cmr_allow")
    Seq((50L, "C"), (60L, "C")).toDF("k", "v")
      .createOrReplaceTempView("dml_cmr_src")
    // both stale commits discover against base 1
    val pos =
      SnapshotLog.readPosForDml(spark, SnapshotLog.resolve(spark, root, 1L))
    val disjoint = pos.filter(col("k") === 90L)
    val deadD = disjoint.select(col("__path").as("t_path"),
      col("__pos").as("t_pos"))
    val addsD = disjoint.select(col("k"), lit("m90").as("v"))
    val same = pos.filter(col("k") === 50L)
    val deadS = same.select(col("__path").as("t_path"),
      col("__pos").as("t_pos"))
    val addsS = same.select(col("k"), lit("clobber").as("v"))
    // the correlated MERGE publishes first: deletes 50 and 60
    spark.sql(
      s"""MERGE INTO $cat.`$root` t USING dml_cmr_src s ON t.k = s.k
         |WHEN MATCHED AND EXISTS (
         |  SELECT 1 FROM dml_cmr_allow a WHERE a.ak = t.k)
         |THEN DELETE""".stripMargin)
    assert(SnapshotLog.currentId(spark, root) == 2L)
    // disjoint keys: the stale commit validates and rebases onto 2
    assert(SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadD), addsD) == 3L)
    // same-key: the stale commit must abort, never resurrect the row
    intercept[Exception] {
      SnapshotLog.morCommit(spark, SnapshotLog.resolve(spark, root, 1L), Some(deadS), addsS)
    }
    val out = SnapshotLog.read(spark, root)
    assert(out.filter(col("k").isin(50L, 60L)).count() == 0L,
      "the correlated MERGE's deletes held")
    assert(out.filter(col("v") === "m90").count() == 1L, "rebased commit held")
  }

  test("UPDATE with subquery WHERE and scalar-subquery SET") {
    import spark.implicits._
    val root = newLog("updsubq")
    Seq(2L, 4L).toDF("uk").createOrReplaceTempView("dml_upd_keys")
    spark.sql(s"UPDATE $cat.`$root` SET v = 'S' " +
      "WHERE k IN (SELECT uk FROM dml_upd_keys)")
    val out = SnapshotLog.read(spark, root)
    assert(out.filter(col("v") === "S").count() == 2L)
    assert(out.filter(col("k") === 2L).select("v").head().getString(0) == "S")
    // scalar subquery in SET: every k<=1 row takes the max staged key
    spark.sql(s"UPDATE $cat.`$root` " +
      "SET v = CAST((SELECT max(uk) FROM dml_upd_keys) AS STRING) " +
      "WHERE k = 1")
    assert(SnapshotLog.read(spark, root).filter(col("k") === 1L)
      .select("v").head().getString(0) == "4")
  }
}
