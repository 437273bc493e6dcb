package graft.streaming

import graft.{SparkSpec, TestSpark}
import graft.recipes.Schemas
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Event-driven truncate-reload (S8/§2.9): dropping a new file version
  * into the landing area replaces the warehouse table wholesale —
  * WRITE_TRUNCATE semantics — and the filename router only admits
  * `backups/&#42;.csv` keys, renaming `recipe`→`recipes`.
  */
class IncrementalLoadSpec extends SparkSpec {

  test("filename predicate admits only backups/*.csv") {
    import spark.implicits._
    val checks = Seq(
      "bucket/backups/users.csv" -> true,
      "bucket/backups/recipe.csv" -> true,
      "bucket/tmp/users.csv" -> false,
      "bucket/backups/users.txt" -> false)
    val got = checks.map(_._1).toDF("f")
      .select(col("f"), IncrementalLoad.isLoadable(col("f")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    checks.foreach { case (f, want) => assert(got(f) === want, f) }
  }

  test("table router strips path/suffix and renames recipe→recipes") {
    import spark.implicits._
    val got = Seq("a/backups/recipe.csv", "a/backups/users.csv", "a/backups/steps.csv")
      .toDF("f").select(IncrementalLoad.tableNameFor(col("f")))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("recipes", "users", "steps"))
  }

  test("loadAllAvailableNow routes all five reference CSVs into the warehouse") {
    val root = Files.createTempDirectory("incload-all").toString
    val landing = s"$root/landing"
    Files.createDirectories(Paths.get(s"$landing/backups"))
    // stage the golden CSVs as the landing drop (reference filenames)
    Seq("users.csv", "recipe.csv", "ingredients.csv", "steps.csv", "interactions.csv")
      .foreach { f =>
        Files.copy(
          Paths.get(TestSpark.referenceFile(s"output/$f")),
          Paths.get(s"$landing/backups/$f"))
      }
    IncrementalLoad.loadAllAvailableNow(spark, landing, s"$root/wh", s"$root/chk")
    val counts = Map(
      "users" -> 11L, "recipes" -> 20L, "ingredients" -> 120L,
      "steps" -> 65L, "interactions" -> 50L)
    counts.foreach { case (table, n) =>
      assert(spark.read.parquet(s"$root/wh/$table").count() === n, table)
      // the post-load read-back check surfaced the same number
      assert(IncrementalLoad.lastLoadedRowCount(s"$root/wh/$table") === Some(n), table)
    }
    // and the summary frame carries one (path, num_rows) row per table
    val summary = IncrementalLoad.loadSummary(spark)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (table, n) =>
      assert(summary(s"$root/wh/$table") === n, table)
    }
    // recipe.csv landed in the renamed `recipes` table with typed columns
    val r = spark.read.parquet(s"$root/wh/recipes")
    assert(r.schema("prep_time_minutes").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("each new file version truncate-reloads the table (last write wins)") {
    val root = Files.createTempDirectory("incload").toString
    val landing = s"$root/landing"
    val warehouse = s"$root/warehouse/users"
    val checkpoint = s"$root/chk"
    Files.createDirectories(Paths.get(s"$landing/backups"))

    def drop(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(s"$landing/backups/$name"),
        ("user_id,username,email,created_at" +: rows).mkString("\n").getBytes)

    def load(): Unit =
      IncrementalLoad.truncateReloadStream(
        spark, landing, "*.csv", Schemas.usersTable, warehouse, checkpoint)
        .awaitTermination()

    // batch 1: two users
    drop("users_v1.csv", Seq(
      "u1,Alice,a@example.com,2025-01-01 00:00:00.000000+00:00",
      "u2,Bob,b@example.com,2025-01-01 00:00:00.000000+00:00"))
    load()
    assert(spark.read.parquet(warehouse).count() === 2)

    // batch 2: a single replacement row — table must equal ONLY this batch
    drop("users_v2.csv", Seq(
      "u9,Zoe,z@example.com,2025-02-02 00:00:00.000000+00:00"))
    load()
    val after = spark.read.parquet(warehouse)
    assert(after.count() === 1)
    assert(after.select("user_id").head().getString(0) === "u9")
  }
}
