package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Nested-column evolution: rename/drop of struct fields as
  * metadata-only commits, field-id resolved across file eras — the
  * document-shaped evolution a docstore table needs without a rewrite.
  */
class NestedEvolutionSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snnest",
      classOf[graft.sources.SnapshotCatalog].getName)
    "snnest"
  }

  private def newRoot(tag: String): String =
    graft.TempDirs.create(s"nested_$tag").resolve("log").toString

  /** Era-A: (k, meta STRUCT<name STRING, qty BIGINT>). */
  private def eraA(root: String, keys: Range): Unit = {
    import spark.implicits._
    SnapshotLog.append(spark, root,
      keys.map(k => (k.toLong, (s"n$k", k.toLong * 10)))
        .toDF("k", "meta")
        .select(col("k"), col("meta").cast(
          "struct<name: string, qty: bigint>").as("meta")).coalesce(1))
  }

  test("nested rename reads both eras by field id; time travel keeps the old name") {
    import spark.implicits._
    val root = newRoot("rename")
    eraA(root, 1 to 10)
    SnapshotLog.renameColumn(spark, root, "meta.name", "label")
    // era-B writes under the evolved shape
    SnapshotLog.append(spark, root,
      (11 to 20).map(k => (k.toLong, (s"n$k", k.toLong * 10)))
        .toDF("k", "meta")
        .select(col("k"), col("meta").cast(
          "struct<label: string, qty: bigint>").as("meta")).coalesce(1))
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("meta").dataType.catalogString ==
      "struct<label:string,qty:bigint>")
    val rows = out.select(col("k"), col("meta.label"), col("meta.qty"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.length == 20)
    assert(rows.forall { case (k, l, q) => l == s"n$k" && q == k * 10 },
      s"both eras must resolve: ${rows.take(3).toSeq}")
    // the SQL door sees the same thing
    assert(spark.sql(s"SELECT meta.label FROM $cat.`$root` WHERE k = 1")
      .head().getString(0) == "n1")
    // time travel to the pre-rename snapshot keeps ITS schema
    val old = SnapshotLog.read(spark, root, asOf = 1L)
    assert(old.schema("meta").dataType.catalogString ==
      "struct<name:string,qty:bigint>")
    assert(old.select(col("meta.name")).count() == 10L)
  }

  test("nested drop removes the field from both eras without a rewrite") {
    val root = newRoot("drop")
    eraA(root, 1 to 10)
    val before = SnapshotLog.snapshot(spark, root, 1L).files.map { f =>
      f.path -> new Path(s"$root/${f.path}")
    }
    SnapshotLog.dropColumn(spark, root, "meta.name")
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("meta").dataType.catalogString ==
      "struct<qty:bigint>")
    assert(out.select(col("meta.qty")).collect().map(_.getLong(0)).sorted
      .toSeq == (1 to 10).map(_ * 10L))
    // metadata-only: the data files are untouched
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    before.foreach { case (_, p) => assert(fs.exists(p)) }
    // dropping the struct's last field is refused
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.dropColumn(spark, root, "meta.qty")
    }
    assert(e.getMessage.contains("only field"))
  }

  test("rename then rename-back round-trips; descendants re-prefix") {
    import spark.implicits._
    val root = newRoot("deep")
    // two-level nesting: doc.meta.name
    SnapshotLog.append(spark, root,
      (1 to 5).map(k => (k.toLong, ((s"n$k", k.toLong), s"t$k")))
        .toDF("k", "doc")
        .select(col("k"), col("doc").cast(
          "struct<meta: struct<name: string, qty: bigint>, title: string>")
          .as("doc")).coalesce(1))
    // rename the INTERMEDIATE struct: descendants' id paths move with it
    SnapshotLog.renameColumn(spark, root, "doc.meta", "info")
    SnapshotLog.renameColumn(spark, root, "doc.info.name", "label")
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("doc").dataType.catalogString ==
      "struct<info:struct<label:string,qty:bigint>,title:string>")
    val r = out.filter(col("k") === 3L)
      .select(col("doc.info.label"), col("doc.info.qty"), col("doc.title"))
      .head()
    assert(r.getString(0) == "n3" && r.getLong(1) == 3L &&
      r.getString(2) == "t3")
  }

  test("a file predating nested ids refuses nested rename loudly") {
    val root = newRoot("legacy")
    eraA(root, 1 to 5)
    // simulate a pre-nested-id stamp: strip dotted entries from the
    // list files (exactly what an old-format writer produced)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$root/snap"))
      .filter(_.getPath.getName.endsWith(".list")).foreach { st =>
        val in = fs.open(st.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val stripped = text.split('\n').map { l =>
          val cols = l.split('\t')
          if (cols.length >= 5)
            // the ids field is the 5th column: drop dotted entries
            cols.updated(4, cols(4).split(';')
              .filterNot(_.contains("%2E")).filterNot(kv =>
                java.net.URLDecoder.decode(kv.split("=")(0), "UTF-8")
                  .contains(".")).mkString(";")).mkString("\t")
          else l
        }.mkString("\n")
        fs.delete(st.getPath, false)
        val out2 = fs.create(st.getPath, true)
        try out2.write(stripped.getBytes("UTF-8")) finally out2.close()
      }
    val e = intercept[Exception] {
      SnapshotLog.renameColumn(spark, root, "meta.name", "label")
    }
    assert(e.getMessage.contains("rewrite files first") ||
      e.getMessage.contains("no field id"),
      s"must refuse, got: ${e.getMessage}")
    // but the READ still works (children resolve by name)
    assert(SnapshotLog.read(spark, root)
      .select(col("meta.name")).count() == 5L)
    // and nested DROP is still sound on by-name files
    SnapshotLog.dropColumn(spark, root, "meta.name")
    assert(SnapshotLog.read(spark, root).schema("meta").dataType
      .catalogString == "struct<qty:bigint>")
    assert(SnapshotLog.read(spark, root).select(col("meta.qty"))
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (1 to 5).map(_ * 10L))
  }

  test("a TOP-LEVEL rename of a struct column re-prefixes its nested ids") {
    val root = newRoot("reprefix")
    eraA(root, 1 to 8)
    // meta -> info: the children's dotted id paths must move with it,
    // or every child would resolve as absent (silent NULLs)
    SnapshotLog.renameColumn(spark, root, "meta", "info")
    val out = SnapshotLog.read(spark, root)
      .select(col("k"), col("info.name"), col("info.qty")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.length == 8)
    assert(out.forall { case (k, n, q) => n == s"n$k" && q == k * 10 },
      s"children must survive the parent rename: ${out.take(3).toSeq}")
    // and a NESTED rename still works through the new parent path
    SnapshotLog.renameColumn(spark, root, "info.name", "label")
    assert(SnapshotLog.read(spark, root).select(col("info.label"))
      .collect().map(_.getString(0)).sorted.toSeq ==
      (1 to 8).map(i => s"n$i").sorted)
    // dropping the struct retires every nested id with it
    SnapshotLog.addColumn(spark, root, "w",
      org.apache.spark.sql.types.StringType)
    SnapshotLog.dropColumn(spark, root, "info")
    assert(SnapshotLog.read(spark, root).columns.toSeq == Seq("k", "w"))
  }

  test("SQL ALTER drives nested rename and drop through the catalog") {
    val root = newRoot("sql")
    eraA(root, 1 to 6)
    spark.sql(s"ALTER TABLE $cat.`$root` RENAME COLUMN meta.name TO label")
    spark.sql(s"ALTER TABLE $cat.`$root` DROP COLUMN meta.qty")
    val out = spark.sql(s"SELECT k, meta.label FROM $cat.`$root` ORDER BY k")
      .collect()
    assert(out.length == 6)
    assert(out.map(_.getString(1)).toSeq == (1 to 6).map(i => s"n$i"))
  }

  test("nested WIDEN upcasts old narrow values at the scan") {
    import spark.implicits._
    val root = newRoot("widen")
    SnapshotLog.append(spark, root,
      (1 to 5).map(k => (k.toLong, (s"n$k", k)))
        .toDF("k", "meta")
        .select(col("k"), col("meta").cast(
          "struct<name: string, qty: int>").as("meta")).coalesce(1))
    SnapshotLog.widenColumn(spark, root, "meta.qty",
      org.apache.spark.sql.types.LongType)
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("meta").dataType.catalogString ==
      "struct<name:string,qty:bigint>")
    assert(out.select(col("meta.qty")).collect().map(_.getLong(0)).sorted
      .toSeq == (1L to 5L))
    // a lossy narrowing refuses
    intercept[IllegalArgumentException] {
      SnapshotLog.widenColumn(spark, root, "meta.qty",
        org.apache.spark.sql.types.IntegerType)
    }
  }

  test("nested ADD reads NULL on old files; refuses over by-name eras") {
    import spark.implicits._
    val root = newRoot("add")
    eraA(root, 1 to 4)
    SnapshotLog.addColumn(spark, root, "meta.note",
      org.apache.spark.sql.types.StringType)
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("meta").dataType.catalogString ==
      "struct<name:string,qty:bigint,note:string>")
    assert(out.select(col("meta.note")).collect().forall(_.isNullAt(0)),
      "pre-add files read NULL for the new child")
    // era-B rows carry real values; both eras coexist
    SnapshotLog.append(spark, root,
      (5 to 6).map(k => (k.toLong, (s"n$k", k.toLong * 10, s"x$k")))
        .toDF("k", "meta")
        .select(col("k"), col("meta").cast(
          "struct<name: string, qty: bigint, note: string>").as("meta"))
        .coalesce(1))
    val vals = SnapshotLog.read(spark, root)
      .select(col("k"), col("meta.note")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(vals(1L) == null && vals(5L) == "x5" && vals(6L) == "x6")
    // a by-name-era file (no nested ids) refuses the add: re-adding a
    // once-dropped name would resurrect its old data through the
    // by-name read
    val root2 = newRoot("addlegacy")
    eraA(root2, 1 to 3)
    val fs = new Path(root2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(s"$root2/snap"))
      .filter(_.getPath.getName.endsWith(".list")).foreach { st =>
        val in = fs.open(st.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val stripped = text.split('\n').map { l =>
          val cols = l.split('\t')
          if (cols.length >= 5)
            cols.updated(4, cols(4).split(';').filterNot(kv =>
              java.net.URLDecoder.decode(kv.split("=")(0), "UTF-8")
                .contains(".")).mkString(";")).mkString("\t")
          else l
        }.mkString("\n")
        fs.delete(st.getPath, false)
        val out2 = fs.create(st.getPath, true)
        try out2.write(stripped.getBytes("UTF-8")) finally out2.close()
      }
    val e = intercept[Exception] {
      SnapshotLog.addColumn(spark, root2, "meta.note",
        org.apache.spark.sql.types.StringType)
    }
    assert(e.getMessage.contains("rewrite files first"),
      s"by-name era must refuse nested add: ${e.getMessage}")
  }

  /** Upsert source over era-A: k=5 replaced, k=11 inserted. */
  private def upsertSource() = {
    import spark.implicits._
    Seq((5L, ("m5", 500L)), (11L, ("m11", 110L))).toDF("k", "meta")
      .select(col("k"), col("meta").cast(
        "struct<name: string, qty: bigint>").as("meta"))
  }

  /** Rename meta.name -> label, then read era-A and the upsert's files. */
  private def assertRenamedUpsert(root: String): Unit = {
    SnapshotLog.renameColumn(spark, root, "meta.name", "label")
    val rows = SnapshotLog.read(spark, root)
      .select(col("k"), col("meta.label"), col("meta.qty")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      .toSeq
    val want = ((1 to 10).filterNot(_ == 5)
      .map(k => (k.toLong, s"n$k", k * 10L)) ++
      Seq((5L, "m5", 500L), (11L, "m11", 110L))).sortBy(_._1)
    assert(rows == want)
  }

  test("files an equality merge wrote keep their nested ids through a rename") {
    val root = newRoot("eqmerge")
    eraA(root, 1 to 10)
    SnapshotLog.mergeIntoEqual(spark, root, upsertSource(), Seq("k"))
    assertRenamedUpsert(root)
  }

  test("files a WAP MERGE staged keep their nested ids through fast-forward and a rename") {
    val root = newRoot("wapmerge")
    eraA(root, 1 to 10)
    upsertSource().createOrReplaceTempView("nested_wap_src")
    spark.conf.set("spark.graft.wap.branch", "nested")
    try spark.sql(s"MERGE INTO $cat.`$root` t USING nested_wap_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    finally spark.conf.unset("spark.graft.wap.branch")
    SnapshotLog.fastForward(spark, root, "nested")
    assertRenamedUpsert(root)
  }
}
