package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Nested evolution THROUGH containers: struct fields inside
  * `array<struct<…>>` and `map<…, struct<…>>` rename/widen/add/drop as
  * metadata-only commits, field-id resolved across file eras via
  * `element`/`key`/`value` path steps — the evolution a document table
  * (`ingredients: array<struct<name, quantity, unit>>`, the reference's
  * own recipe shape at /root/reference/schema/recipe.json:9-70) hits
  * first.
  */
class ArrayMapEvolutionSpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snarr",
      classOf[graft.sources.SnapshotCatalog].getName)
    "snarr"
  }

  private def newRoot(tag: String): String =
    graft.TempDirs.create(s"arrevol_$tag").resolve("log").toString

  /** Era-A: (k, ingredients ARRAY<STRUCT<name STRING, qty BIGINT>>),
    * two ingredients per row.
    */
  private def eraA(root: String, keys: Range): Unit = {
    import spark.implicits._
    SnapshotLog.append(spark, root,
      keys.map(k => (k.toLong, Seq((s"n$k", k.toLong * 10),
        (s"m$k", k.toLong * 10 + 1))))
        .toDF("k", "ingredients")
        .select(col("k"), col("ingredients").cast(
          "array<struct<name: string, qty: bigint>>").as("ingredients"))
        .coalesce(1))
  }

  test("element-struct rename reads both eras by field id; time travel " +
      "keeps the old name") {
    import spark.implicits._
    val root = newRoot("rename")
    eraA(root, 1 to 10)
    SnapshotLog.renameColumn(spark, root, "ingredients.element.name", "label")
    // era-B writes under the evolved shape
    SnapshotLog.append(spark, root,
      (11 to 20).map(k => (k.toLong, Seq((s"n$k", k.toLong * 10),
        (s"m$k", k.toLong * 10 + 1))))
        .toDF("k", "ingredients")
        .select(col("k"), col("ingredients").cast(
          "array<struct<label: string, qty: bigint>>").as("ingredients"))
        .coalesce(1))
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("ingredients").dataType.catalogString ==
      "array<struct<label:string,qty:bigint>>")
    val rows = out.select(col("k"), col("ingredients").getItem(0)
      .getField("label"), col("ingredients").getItem(1).getField("qty"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.length == 20)
    assert(rows.forall { case (k, l, q) => l == s"n$k" && q == k * 10 + 1 },
      s"both eras must resolve by id: ${rows.take(3).toSeq}")
    // SQL door: explode through the renamed shape
    assert(spark.sql(s"SELECT ing.label FROM $cat.`$root` " +
      "LATERAL VIEW explode(ingredients) AS ing WHERE k = 1 " +
      "ORDER BY ing.label").collect().map(_.getString(0)).toSeq ==
      Seq("m1", "n1"))
    // time travel to the pre-rename snapshot keeps ITS schema
    val old = SnapshotLog.read(spark, root, asOf = 1L)
    assert(old.schema("ingredients").dataType.catalogString ==
      "array<struct<name:string,qty:bigint>>")
    assert(old.select(col("ingredients").getItem(0).getField("name"))
      .count() == 10L)
  }

  test("element-struct WIDEN upcasts old narrow values at the scan; " +
      "bare array element widens too") {
    import spark.implicits._
    val root = newRoot("widen")
    SnapshotLog.append(spark, root,
      (1 to 5).map(k => (k.toLong, Seq((s"n$k", k)), Seq(k)))
        .toDF("k", "ingredients", "tags")
        .select(col("k"), col("ingredients").cast(
          "array<struct<name: string, qty: int>>").as("ingredients"),
          col("tags").cast("array<int>").as("tags")).coalesce(1))
    SnapshotLog.widenColumn(spark, root, "ingredients.element.qty",
      org.apache.spark.sql.types.LongType)
    // a CONTAINER STEP as the terminal path: widen the element itself
    SnapshotLog.widenColumn(spark, root, "tags.element",
      org.apache.spark.sql.types.LongType)
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("ingredients").dataType.catalogString ==
      "array<struct<name:string,qty:bigint>>")
    assert(out.schema("tags").dataType.catalogString == "array<bigint>")
    assert(out.select(col("ingredients").getItem(0).getField("qty"))
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    assert(out.select(col("tags").getItem(0)).collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    // lossy narrowing refuses; dropping an element refuses
    intercept[IllegalArgumentException] {
      SnapshotLog.widenColumn(spark, root, "ingredients.element.qty",
        org.apache.spark.sql.types.IntegerType)
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.dropColumn(spark, root, "tags.element")
    }
  }

  test("element-struct ADD reads NULL on old files; DROP removes from " +
      "both eras without a rewrite") {
    import spark.implicits._
    val root = newRoot("adddrop")
    eraA(root, 1 to 4)
    SnapshotLog.addColumn(spark, root, "ingredients.element.unit",
      org.apache.spark.sql.types.StringType)
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("ingredients").dataType.catalogString ==
      "array<struct<name:string,qty:bigint,unit:string>>")
    assert(out.select(col("ingredients").getItem(0).getField("unit"))
      .collect().forall(_.isNullAt(0)),
      "pre-add files read NULL for the new element child")
    // era-B rows carry real values; both eras coexist
    SnapshotLog.append(spark, root,
      (5 to 6).map(k => (k.toLong, Seq((s"n$k", k.toLong * 10, "g"))))
        .toDF("k", "ingredients")
        .select(col("k"), col("ingredients").cast(
          "array<struct<name: string, qty: bigint, unit: string>>")
          .as("ingredients")).coalesce(1))
    val units = SnapshotLog.read(spark, root)
      .select(col("k"), col("ingredients").getItem(0).getField("unit"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(units(1L) == null && units(5L) == "g" && units(6L) == "g")
    // drop the original name field: gone from every era, files untouched
    val files = SnapshotLog.snapshot(spark, root,
      SnapshotLog.currentId(spark, root)).files
      .map(f => new Path(s"$root/${f.path}"))
    SnapshotLog.dropColumn(spark, root, "ingredients.element.name")
    val after = SnapshotLog.read(spark, root)
    assert(after.schema("ingredients").dataType.catalogString ==
      "array<struct<qty:bigint,unit:string>>")
    assert(after.count() == 6L)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    files.foreach(p => assert(fs.exists(p), "metadata-only: no rewrite"))
  }

  test("map VALUE struct fields evolve; map KEY structs too") {
    import spark.implicits._
    val root = newRoot("map")
    SnapshotLog.append(spark, root,
      (1 to 5).map(k => (k.toLong, Map(s"s$k" -> (k.toLong, s"v$k"))))
        .toDF("k", "m")
        .select(col("k"), col("m").cast(
          "map<string, struct<a: bigint, b: string>>").as("m")).coalesce(1))
    SnapshotLog.renameColumn(spark, root, "m.value.a", "amount")
    SnapshotLog.append(spark, root,
      (6 to 8).map(k => (k.toLong, Map(s"s$k" -> (k.toLong, s"v$k"))))
        .toDF("k", "m")
        .select(col("k"), col("m").cast(
          "map<string, struct<amount: bigint, b: string>>").as("m"))
        .coalesce(1))
    val out = SnapshotLog.read(spark, root)
    assert(out.schema("m").dataType.catalogString ==
      "map<string,struct<amount:bigint,b:string>>")
    val vals = out.select(col("k"),
      org.apache.spark.sql.functions.map_values(col("m")).getItem(0)
        .getField("amount")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(vals.map(_._2).toSeq == (1L to 8L),
      s"both map eras must resolve by id: ${vals.take(3).toSeq}")
  }

  test("SQL ALTER drives element-struct rename/widen/add/drop through " +
      "the catalog") {
    val root = newRoot("sql")
    eraA(root, 1 to 6)
    spark.sql(s"ALTER TABLE $cat.`$root` " +
      "RENAME COLUMN ingredients.element.name TO label")
    spark.sql(s"ALTER TABLE $cat.`$root` " +
      "ADD COLUMN ingredients.element.unit STRING")
    spark.sql(s"ALTER TABLE $cat.`$root` " +
      "ALTER COLUMN ingredients.element.qty TYPE BIGINT") // no-op width
    val out = spark.sql(s"SELECT k, ingredients[0].label, " +
      s"ingredients[0].unit FROM $cat.`$root` ORDER BY k").collect()
    assert(out.length == 6)
    assert(out.map(_.getString(1)).toSeq == (1 to 6).map(i => s"n$i"))
    assert(out.forall(_.isNullAt(2)))
    spark.sql(s"ALTER TABLE $cat.`$root` DROP COLUMN ingredients.element.qty")
    assert(spark.sql(s"SELECT ingredients FROM $cat.`$root`").schema
      .head.dataType.catalogString ==
      "array<struct<label:string,unit:string>>")
  }

  test("a TOP-LEVEL rename of the array column re-prefixes its " +
      "element-descendant ids") {
    val root = newRoot("reprefix")
    eraA(root, 1 to 8)
    SnapshotLog.renameColumn(spark, root, "ingredients", "items")
    val out = SnapshotLog.read(spark, root)
      .select(col("k"), col("items").getItem(0).getField("name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.length == 8)
    assert(out.forall { case (k, n) => n == s"n$k" },
      s"element children must survive the parent rename: ${out.take(3).toSeq}")
    // and a NESTED rename still works through the new parent path
    SnapshotLog.renameColumn(spark, root, "items.element.name", "label")
    assert(SnapshotLog.read(spark, root)
      .select(col("items").getItem(0).getField("label"))
      .collect().map(_.getString(0)).sorted.toSeq ==
      (1 to 8).map(i => s"n$i").sorted)
  }

  test("a file predating element ids refuses rename/add loudly; " +
      "drop stays sound; reads resolve by name") {
    val root = newRoot("legacy")
    eraA(root, 1 to 5)
    // simulate a pre-element-id stamp: strip dotted entries from the
    // list files (exactly what the pre-container-step writer produced)
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
      SnapshotLog.renameColumn(spark, root, "ingredients.element.name",
        "label")
    }
    assert(e.getMessage.contains("rewrite files first") ||
      e.getMessage.contains("no field id"),
      s"must refuse, got: ${e.getMessage}")
    intercept[Exception] {
      SnapshotLog.addColumn(spark, root, "ingredients.element.unit",
        org.apache.spark.sql.types.StringType)
    }
    // the READ still works (element children resolve by name)
    assert(SnapshotLog.read(spark, root)
      .select(col("ingredients").getItem(0).getField("name")).count() == 5L)
    // and DROP is still sound on by-name files
    SnapshotLog.dropColumn(spark, root, "ingredients.element.name")
    assert(SnapshotLog.read(spark, root).schema("ingredients").dataType
      .catalogString == "array<struct<qty:bigint>>")
    assert(SnapshotLog.read(spark, root)
      .select(col("ingredients").getItem(0).getField("qty"))
      .collect().map(_.getLong(0)).sorted.toSeq == (1 to 5).map(_ * 10L))
  }
}
