package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.SnapshotLog
import graft.operators.SnapshotLog.{PartField, SortField}

/** Declared write sort order + reported per-partition ordering:
  * `ALTER TABLE t SET TBLPROPERTIES ('write.ordered-by' = …)` makes
  * every subsequent write sort its files and stamp them; a scan whose
  * bearing files are unanimously stamped, null-free in the sort
  * columns, and chain-disjoint on the leading column (globally, or per
  * partition value under key-grouped SPJ reads) packs each task's
  * files in sort order and reports `SupportsReportOrdering` — the
  * sorted SPJ then plans a sort-merge join with ZERO Exchange and ZERO
  * Sort. The SQL write path (a true DSv2 BatchWrite asking Spark for
  * the clustering + sort via RequiresDistributionAndOrdering) must
  * keep the stamps physically true.
  */
class SnapshotSortOrderSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snsort",
      classOf[SnapshotCatalog].getName)
    "snsort"
  }

  private def newRoot(tag: String): String =
    graft.TempDirs.create(s"sortorder_$tag").resolve("log").toString

  private def liveFiles(root: String): Seq[SnapshotLog.FileEntry] =
    SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files

  /** Whether rows of each given parquet file, read in file order, are
    * monotonic on `c` — the physical claim a sortedBy stamp makes.
    */
  private def filesSortedBy(paths: Seq[String], c: String,
      asc: Boolean = true): Boolean = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{input_file_name, lag, monotonically_increasing_id}
    val rows = spark.read.parquet(paths: _*)
      .withColumn("__f", input_file_name())
      .withColumn("__i", monotonically_increasing_id())
    val w = Window.partitionBy("__f").orderBy("__i")
    val bad = rows.withColumn("__p", lag(col(c), 1).over(w))
      .filter(col("__p").isNotNull &&
        (if (asc) col("__p") > col(c) else col("__p") < col(c)))
    bad.isEmpty
  }

  /** Whether a bare scan of `root` reports an ordering — read straight
    * off the optimized plan's scan relation, where Spark's
    * V2ScanPartitioningAndOrdering rule recorded it.
    */
  private def reportsOrdering(root: String): Boolean =
    spark.sql(s"SELECT * FROM $cat.`$root`")
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.ordering
      }.flatten.exists(_.nonEmpty)

  test("declared order sorts and stamps library appends; property round-trips") {
    import spark.implicits._
    val root = newRoot("declare")
    SnapshotLog.append(spark, root,
      (1 to 100).map(i => ((i * 37) % 1000, s"v$i")).toDF("k", "v")
        .repartition(3))
    assert(liveFiles(root).forall(_.sortedBy == ""),
      "no stamp before declaration")

    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    assert(SnapshotLog.sortOrderOf(spark, root) == Seq(SortField("k")))
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.`$root`").collect()
      .exists(r => r.getString(0) == "write.ordered-by" &&
        r.getString(1) == "k"), "property surfaces in SHOW TBLPROPERTIES")

    SnapshotLog.append(spark, root,
      (1 to 100).map(i => ((i * 53) % 1000 + 1000, s"w$i")).toDF("k", "v")
        .repartition(3))
    val files = liveFiles(root)
    val stamped = files.filter(_.sortedBy == "k")
    assert(stamped.size >= 3, s"new files stamped: ${files.map(_.sortedBy)}")
    assert(files.exists(_.sortedBy == ""),
      "pre-declaration files stay unstamped")
    assert(filesSortedBy(stamped.map(f => s"$root/${f.path}"), "k"),
      "stamped files are physically sorted")
    // a mixed (partially stamped) table must not report ordering
    assert(!reportsOrdering(root))

    // UNSET clears the declaration; future writes stop stamping
    spark.sql(s"ALTER TABLE $cat.`$root` UNSET TBLPROPERTIES " +
      s"('write.ordered-by')")
    assert(SnapshotLog.sortOrderOf(spark, root).isEmpty)
  }

  test("SQL INSERT is a true V2 write: Spark's rebalance+sort, once") {
    import spark.implicits._
    val root = newRoot("sqlwrite")
    // a bucketed spec + declared sort: the write must request a
    // CLUSTERED distribution (non-strict -> AQE RebalancePartitions)
    // and the declared sort, execute them (V2 BatchWrite — the V1
    // fallback hands insert() the UNPREPARED query), and the library
    // must not re-shuffle behind it
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, g BIGINT, v STRING"),
      Seq(PartField("bucket", "g", 4)))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")

    (1 to 400).map(i => ((i * 97L) % 1000L, i.toLong % 16L, s"v$i"))
      .toDF("k", "g", "v").createOrReplaceTempView("sort_src")
    val plan = spark.sql(
      s"EXPLAIN EXTENDED INSERT INTO $cat.`$root` " +
        "SELECT k, g, v FROM sort_src").collect().map(_.getString(0))
      .mkString("\n")
    // the optimized plan carries Spark's OWN prepared query: the
    // rebalance on the bucket transform and the sort under it — and
    // the physical plan is the V2 AppendData (which executes it), not
    // the V1 fallback (which would drop it)
    assert(plan.contains("RebalancePartitions"),
      s"write must request a rebalanced clustering:\n$plan")
    assert(plan.contains("Sort ["),
      s"write must request the declared ordering:\n$plan")
    assert(!plan.contains("AppendDataExecV1"),
      s"layout-declared table must take the true V2 write:\n$plan")

    spark.sql(s"INSERT INTO $cat.`$root` SELECT k, g, v FROM sort_src")
    val files = liveFiles(root)
    assert(files.nonEmpty && files.forall(_.sortedBy == "k"),
      s"SQL-written files stamped sorted: ${files.map(_.sortedBy)}")
    // the stamp must be PHYSICALLY true — the proof the distribution/
    // ordering contract was honored end-to-end
    assert(filesSortedBy(files.map(f => s"$root/${f.path}"), "k"),
      "files written through SQL INSERT are sorted by the declared order")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$root`").head.getLong(0)
      == 400L)
    // spec routing facts still recorded: bucket bands + column meta
    assert(files.forall(_.stats.keys.exists(_.startsWith("__bucket:"))),
      "V2-written files still stamp transform bands")
    assert(files.forall(_.meta.nonEmpty),
      "V2-written files still record column meta")

    // INSERT OVERWRITE through the same V2 path replaces the content
    spark.sql(s"INSERT OVERWRITE $cat.`$root` " +
      "SELECT k, g, v FROM sort_src WHERE g < 8")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$root`").head.getLong(0)
      == 200L)
    assert(liveFiles(root).forall(_.sortedBy == "k"))
  }

  test("sorted SPJ: SMJ with zero Exchange and zero Sort") {
    import spark.implicits._
    val (ra, rb) = (newRoot("spj_a"), newRoot("spj_b"))
    // co-bucketed fanout pair (one file per bucket), each declared
    // sorted on the join key: the scans report KeyGroupedPartitioning
    // AND the per-file ordering — the join needs neither a shuffle nor
    // a sort on either side
    def seed(root: String, n: Int, tag: String): Unit = {
      SnapshotLog.createTable(spark, root,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v STRING"),
        Seq(PartField("bucket", "k", 4)))
      spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
        s"('write.ordered-by' = 'k')")
      spark.conf.set("spark.graft.write.fanout", "true")
      try SnapshotLog.append(spark, root,
        (1 to n).map(i => (i.toLong, s"$tag$i")).toDF("k", "v")
          .repartition(2))
      finally spark.conf.unset("spark.graft.write.fanout")
    }
    seed(ra, 4000, "a")
    seed(rb, 3000, "b")
    val restore = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.graft.catalog.preserveGrouping", "true")
      val q = spark.sql(
        s"""SELECT a.k, a.v, b.v AS w FROM $cat.`$ra` a
           |JOIN $cat.`$rb` b ON a.k = b.k""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"SPJ must keep the join exchange-free:\n$plan")
      assert(!plan.contains("+- Sort "),
        s"reported ordering must elide both Sorts:\n$plan")
      // and the result is RIGHT — a wrong pack order would corrupt the
      // merge silently
      assert(q.count() == 3000L)
      assert(q.agg(org.apache.spark.sql.functions.sum("k")).head.getLong(0)
        == (1L to 3000L).sum)
    } finally {
      spark.conf.unset("spark.graft.catalog.preserveGrouping")
      restore match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("ordering is refused: sort-column nulls, overlapping bands") {
    import spark.implicits._
    // clean range-clustered table: the positive control (reports
    // ordering even without SPJ — disjoint global chain)
    val clean = newRoot("neg_clean")
    SnapshotLog.createTable(spark, clean,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    spark.sql(s"ALTER TABLE $cat.`$clean` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    SnapshotLog.append(spark, clean,
      (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(3, col("k")))
    assert(reportsOrdering(clean),
      "disjoint stamped chain must report ordering")

    // nulls in the sort column: stats can't place them — refuse
    val nulls = newRoot("neg_nulls")
    SnapshotLog.createTable(spark, nulls,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    spark.sql(s"ALTER TABLE $cat.`$nulls` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    SnapshotLog.append(spark, nulls,
      (1 to 1000).map(i =>
        (if (i % 97 == 0) null else java.lang.Long.valueOf(i.toLong), s"v$i"))
        .toDF("k", "v").repartitionByRange(3, col("k")))
    assert(!reportsOrdering(nulls),
      "sort-column nulls must refuse the reported ordering")

    // overlapping file bands (round-robin writes): sorted files, but
    // no sound concatenation exists
    val overlap = newRoot("neg_overlap")
    SnapshotLog.createTable(spark, overlap,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    spark.sql(s"ALTER TABLE $cat.`$overlap` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    SnapshotLog.append(spark, overlap,
      (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(3))
    assert(!reportsOrdering(overlap),
      "overlapping leading-column bands must refuse the reported ordering")
  }

  test("optimizeSorted: unsorted history becomes ordering-eligible") {
    import spark.implicits._
    val root = newRoot("opt")
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    // data written BEFORE the declaration, round-robin (overlapping
    // bands, no stamps): the ordering gate must refuse
    SnapshotLog.append(spark, root,
      (1 to 1000).map(i => ((i * 37L) % 1000L, s"v$i")).toDF("k", "v")
        .repartition(3))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    assert(!reportsOrdering(root), "pre-declaration files refuse")

    val base = SnapshotLog.currentId(spark, root)
    val id = spark.sql(
      s"CALL $cat.system.optimize_sorted('$root', 4)").head.getLong(0)
    assert(id == base + 1)
    assert(SnapshotLog.operationOf(spark, root, id) == "optimize-sorted")
    val files = liveFiles(root)
    assert(files.size > 1 && files.forall(_.sortedBy == "k"),
      s"rewrite stamps every file: ${files.map(_.sortedBy)}")
    assert(filesSortedBy(files.map(f => s"$root/${f.path}"), "k"),
      "rewritten files are physically sorted")
    assert(reportsOrdering(root),
      "the rewritten chain reports ordering")
    // the stamp is SQL-auditable: snap.t.files serves sorted_by
    assert(spark.sql(s"SELECT sorted_by FROM $cat.`$root`.files")
      .collect().forall(_.getString(0) == "k"),
      "files metadata table surfaces the sort stamp")
    // layout-only: the multiset diff across the commit is empty, and
    // time travel still sees the pre-rewrite layout
    assert(SnapshotLog.changes(spark, root, base, id).isEmpty,
      "optimizeSorted must be content-preserving")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.`$root`").head.getLong(0)
      == (1 to 1000).map(i => (i * 37L) % 1000L).sum)
  }

  test("optimizeSorted under a spec keeps fanout point bands") {
    import spark.implicits._
    val root = newRoot("optspec")
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
      Seq(PartField("bucket", "k", 4)))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    // overwrite the layout away: unsorted, unrouted files
    SnapshotLog.append(spark, root,
      (1 to 800).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(3))
    val id = SnapshotLog.optimizeSorted(spark, root)
    assert(SnapshotLog.operationOf(spark, root, id) == "optimize-sorted")
    val files = liveFiles(root)
    // every file: one bucket value (point band), interior-sorted
    assert(files.forall(_.sortedBy == "k"))
    assert(files.forall(f => f.stats.keys.exists(_.startsWith("__bucket:"))),
      "fanout rewrite stamps transform bands")
    assert(files.forall { f =>
      val (lo, hi) = f.stats.find(_._1.startsWith("__bucket:")).get._2
      lo == hi
    }, "one partition value per file — point bands")
    assert(filesSortedBy(files.map(f => s"$root/${f.path}"), "k"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$root`").head.getLong(0)
      == 800L)
  }

  test("CoW churn re-stamps: delete keeps ordering, merge keeps stamps") {
    import spark.implicits._
    val root = newRoot("churn")
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    SnapshotLog.append(spark, root,
      (1 to 1200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(3, col("k")))
    assert(reportsOrdering(root))

    // a CoW delete confined to one file's band: the rewrite's file is
    // sorted + stamped and its band shrinks INSIDE the old one, so the
    // chain stays disjoint and the table stays ordering-eligible —
    // churn must not force an optimizeSorted
    SnapshotLog.deleteWhere(spark, root,
      col("k") >= 100L && col("k") < 200L)
    val afterDelete = liveFiles(root)
    assert(afterDelete.forall(_.sortedBy == "k"),
      s"delete rewrite must re-stamp: ${afterDelete.map(_.sortedBy)}")
    assert(filesSortedBy(afterDelete.map(f => s"$root/${f.path}"), "k"))
    assert(reportsOrdering(root),
      "a band-confined CoW delete keeps reported ordering")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$root`").head.getLong(0)
      == 1100L)

    // a CoW merge re-stamps too (its survivors+source files each stay
    // interior-sorted); the GATE may still refuse if the new bands
    // overlap — stamps must stay truthful either way
    SnapshotLog.mergeInto(spark, root,
      Seq((250L, "upd250"), (1300L, "new1300")).toDF("k", "v"), Seq("k"))
    val afterMerge = liveFiles(root)
    assert(afterMerge.forall(_.sortedBy == "k"),
      s"merge rewrite must re-stamp: ${afterMerge.map(_.sortedBy)}")
    assert(filesSortedBy(afterMerge.map(f => s"$root/${f.path}"), "k"),
      "every stamped post-merge file is physically sorted")
    assert(spark.sql(
      s"SELECT v FROM $cat.`$root` WHERE k = 250").head.getString(0)
      == "upd250")
  }

  test("binpack under a declared order repairs stamps") {
    import spark.implicits._
    val root = newRoot("pack")
    // small-file debris written BEFORE the declaration: unstamped
    SnapshotLog.append(spark, root,
      (1 to 300).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(5))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    assert(liveFiles(root).forall(_.sortedBy == ""))
    val id = SnapshotLog.optimizeBinPack(spark, root,
      smallBytes = 1L << 30)
    assert(id > 0L)
    val files = liveFiles(root)
    assert(files.forall(_.sortedBy == "k"),
      s"binpack outputs re-sort + stamp: ${files.map(_.sortedBy)}")
    assert(filesSortedBy(files.map(f => s"$root/${f.path}"), "k"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$root`").head.getLong(0)
      == 300L)
  }

  test("reported ordering survives a MoR delete: DVs only remove rows") {
    import spark.implicits._
    val root = newRoot("mor")
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k')")
    SnapshotLog.append(spark, root,
      (1 to 900).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(3, col("k")))
    assert(reportsOrdering(root))
    // a positional delete vector removes rows from a sorted file —
    // what remains is still sorted, so eligibility must survive
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10L === 0L)
    assert(reportsOrdering(root),
      "DV kills must not decay the reported ordering")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$root`").head.getLong(0)
      == 810L)
    val got = spark.sql(
      s"SELECT k FROM $cat.`$root` ORDER BY k LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("DESC order: stamped, physically descending, reported") {
    import spark.implicits._
    val root = newRoot("desc")
    SnapshotLog.createTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, m BIGINT"))
    spark.sql(s"ALTER TABLE $cat.`$root` SET TBLPROPERTIES " +
      s"('write.ordered-by' = 'k desc')")
    SnapshotLog.append(spark, root,
      (1 to 500).map(i => (i.toLong, i.toLong * 2)).toDF("k", "m")
        .repartitionByRange(3, col("k").desc))
    assert(SnapshotLog.sortOrderOf(spark, root) ==
      Seq(SortField("k", asc = false)))
    val files = liveFiles(root)
    assert(files.forall(_.sortedBy == "k:d"))
    assert(filesSortedBy(files.map(f => s"$root/${f.path}"), "k",
      asc = false), "files descend on k under a desc order")
    assert(reportsOrdering(root),
      "a desc-sorted disjoint chain reports ordering too")
  }
}
