package graft.recipes

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.DataFrame

/** The 10 analytics queries over the golden star tables must reproduce
  * the reference's PUBLISHED outputs (README.md §6 / the analytics PDF):
  * avg prep 65.3, difficulty 7/8/5, liked-avg 69.2, "Cheesy Cake" 6
  * views, Chicken Gravy 8 steps, 6.0 avg ingredients, etc. This is the
  * end-to-end "a reference user could switch" check.
  *
  * Q1–Q10 read the fixture exports (`TestSpark.FixtureExports`: the five
  * CSVs `RecipeEtl` writes from the documents reconstructed from the
  * golden CSVs), so they run everywhere. The directory-parametric test
  * feeds the reference checkout's own exported bytes through
  * `RecipeGoldenQueries.tables` and cancels where that checkout is absent.
  */
class RecipeAnalyticsSpec extends SparkSpec {

  private lazy val tables: Map[String, DataFrame] =
    RecipeGoldenQueries.tables(spark, TestSpark.FixtureExports)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(r.get))

  test("Q1: top ingredient frequencies match the README (Rice/Tomato 14, Garlic 13, ...)") {
    val freq = rows(RecipeAnalytics.topIngredients(tables))
      .map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
    assert(freq("Rice") === 14 && freq("Tomato") === 14 && freq("Garlic") === 13)
    assert(freq.size === 5)
  }

  test("Q2: global average prep time is 65.3") {
    assert(rows(RecipeAnalytics.avgPrepTime(tables)) === Seq(Seq(65.3)))
  }

  test("Q3: difficulty distribution Easy 7 / Hard 5 / Medium 8") {
    val dist = rows(RecipeAnalytics.difficultyDistribution(tables))
      .map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
    assert(dist === Map("Easy" -> 7L, "Hard" -> 5L, "Medium" -> 8L))
  }

  test("Q4: liked-avg 69.2 vs global 65.3") {
    assert(rows(RecipeAnalytics.likedVsGlobalPrep(tables)) === Seq(Seq(65.3, 69.2)))
  }

  test("Q5: most-viewed recipe is Cheesy Cake with 6 views") {
    assert(rows(RecipeAnalytics.topViewedRecipe(tables)) === Seq(Seq("Cheesy Cake", 6L)))
  }

  test("Q6: liked-ingredient counts match the README (Basil/Rice 13, Salt 12, ...)") {
    val likes = rows(RecipeAnalytics.likedIngredients(tables))
      .map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
    assert(likes === Map(
      "Basil" -> 13L, "Rice" -> 13L, "Salt" -> 12L, "Pepper" -> 11L, "Chicken" -> 10L))
  }

  test("Q7: top-3 active users are Amanda Sloan 7, Carl Lee 7, Christopher Moss 6") {
    val top = rows(RecipeAnalytics.activeUsers(tables))
      .map(r => r(0).toString -> r(1).asInstanceOf[Long])
    assert(top === Seq("Amanda Sloan" -> 7L, "Carl Lee" -> 7L, "Christopher Moss" -> 6L))
  }

  test("Q8: most complex recipe is Chicken Gravy for 2 People with 8 steps") {
    assert(rows(RecipeAnalytics.mostComplexRecipe(tables))
      === Seq(Seq("Chicken Gravy for 2 People", 8L)))
  }

  test("Q9: average ingredient count is 6.0") {
    assert(rows(RecipeAnalytics.avgIngredientCount(tables)) === Seq(Seq(6.0)))
  }

  test("Q10: views by difficulty Medium 9 / Easy 9 / Hard 8") {
    val views = rows(RecipeAnalytics.viewsByDifficulty(tables))
      .map(r => r(0).toString -> r(1).asInstanceOf[Long])
    assert(views === Seq("Easy" -> 9L, "Medium" -> 9L, "Hard" -> 8L))
  }

  test("RecipeGoldenQueries.tables is directory-parametric (user exports)") {
    // a user's own export directory: same file layout, any location
    val dir = java.nio.file.Files.createTempDirectory("user-exports")
    Seq("users", "recipe", "ingredients", "steps", "interactions").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(TestSpark.referenceFile(s"output/$f.csv")),
        dir.resolve(s"$f.csv"))
    }
    val userTables = RecipeGoldenQueries.tables(spark, dir.toString)
    assert(rows(RecipeAnalytics.avgPrepTime(userTables)) === Seq(Seq(65.3)))
  }
}
