package graft.recipes

import graft.{SparkSpec, TestSpark}
import graft.etl.Validate

/** The data-quality validator against the golden `validation_report.csv`
  * (266 rows, all PASS): same table names, same record IDs, same
  * PASS/OK values, same table ordering and row counts — plus FAIL-path
  * coverage on crafted bad rows (the golden report exercises only the
  * clean path).
  *
  * The validated tables are the fixture exports (`TestSpark.FixtureExports`),
  * so the 266/266, per-table and `withTimestamp` tests run everywhere.
  * The record-ID test diffs against the reference checkout's own
  * `validation_report.csv` (`TestSpark.referenceFile`) and cancels where
  * that checkout is absent.
  */
class RecipeValidationGoldenSpec extends SparkSpec {

  private lazy val tables: Map[String, org.apache.spark.sql.DataFrame] =
    RecipeEtl.TableFiles.map { case (table, file) =>
      table -> CsvIO.readStrings(spark, s"${TestSpark.FixtureExports}/$file",
        Schemas.starTables(table).fieldNames.toSeq)
    }

  private lazy val report = RecipeValidation.validateAll(tables).cache()

  private lazy val goldenReport =
    CsvIO.readStrings(spark, TestSpark.referenceFile("validation_report.csv"),
      RecipeEtl.ReportColumns).cache()

  test("golden data validates 266/266 PASS with OK issues") {
    assert(report.count() === 266)
    assert(report.filter("Status != 'PASS' OR Issues != 'OK'").count() === 0)
  }

  test("per-table report rows match the golden breakdown") {
    val counts = report.groupBy("Table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map(
      "Users" -> 11L, "Recipes" -> 20L, "Interactions" -> 50L,
      "Ingredients" -> 120L, "Steps" -> 65L))
  }

  test("record IDs coalesce exactly as the golden report (incl. interactions→recipe_id)") {
    val got = rowSet(report.select("Table", "Record_ID", "Status", "Issues"))
    val want = rowSet(goldenReport.select("Table", "Record_ID", "Status", "Issues"))
    assert(got === want)
  }

  test("withTimestamp appends Validated_At in the reference's format") {
    val r = Validate.withTimestamp(report.limit(3))
    assert(r.columns.last === "Validated_At")
    val ts = r.select("Validated_At").head().getString(0)
    assert(ts.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""), ts)
  }

  test("bad rows fail with the reference's message text, in rule order") {
    import spark.implicits._
    val badRecipes = Seq(
      // missing title + bad difficulty (interpolated message)
      ("rec_x", null, "10", "Impossible"),
      // non-numeric prep time
      ("rec_y", "T", "abc", "Easy"),
      // zero prep time
      ("rec_z", "T", "0", "Hard")
    ).toDF("recipe_id", "title", "prep_time_minutes", "difficulty")
    val ing = Seq("rec_x", "rec_y", "rec_z").toDF("recipe_id")
    val st = Seq("rec_x", "rec_y").toDF("recipe_id") // rec_z has no steps
    val issues = RecipeValidation.recipesReport(badRecipes, ing, st)
      .orderBy("Record_ID")
      .collect().map(r => r.getString(1) -> r.getString(3)).toMap
    assert(issues("rec_x") === "Missing title; Invalid difficulty: Impossible")
    assert(issues("rec_y") === "Non-numeric prep_time")
    assert(issues("rec_z") === "Invalid prep_time; No steps linked")
  }

  test("orphaned interactions are flagged via the broadcast anti-join flags") {
    import spark.implicits._
    val ia = Seq(("i1", "u_ghost", "r_ghost", "view", "2025-01-01 00:00:00"))
      .toDF("interaction_id", "user_id", "recipe_id", "type", "timestamp")
    val users = Seq("u1").toDF("user_id")
    val recipes = Seq("r1").toDF("recipe_id")
    val row = RecipeValidation.interactionsReport(ia, users, recipes).head()
    assert(row.getString(2) === "FAIL")
    assert(row.getString(3) === "Orphaned User ID; Orphaned Recipe ID")
  }
}
