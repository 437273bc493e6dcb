package graft.recipes

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.DataFrame

/** The normalization ETL against the reference's own golden outputs:
  * document fixtures (reconstructed from the golden CSVs under
  * `/root/reference/output/`)
  * run through Normalize must reproduce every golden row exactly,
  * including the CSV stringification edge cases (timestamp format,
  * whole-float quantities, null rating → empty).
  *
  * The five "matches golden" tests read the reference checkout
  * (`TestSpark.referenceFile`) and cancel where it is absent.
  */
class NormalizeGoldenSpec extends SparkSpec {

  private lazy val userDocs =
    Normalize.readDocs(spark, s"${TestSpark.FixtureDir}/users.jsonl", Schemas.userDoc)
  private lazy val recipeDocs =
    Normalize.readDocs(spark, s"${TestSpark.FixtureDir}/recipes.jsonl", Schemas.recipeDoc)
  private lazy val interactionDocs =
    Normalize.readDocs(spark, s"${TestSpark.FixtureDir}/interactions.jsonl", Schemas.interactionDoc)

  /** golden CSV rows as string tuples (empty string ⇒ null, matching the
    * Spark CSV reader).
    */
  private def golden(name: String): Seq[Seq[String]] =
    rowSet(CsvIO.readStrings(spark, TestSpark.referenceFile(s"output/$name"),
      Schemas.starTables(RecipeEtl.TableFiles.map(_.swap).apply(name)).fieldNames.toSeq))

  private def normalized(df: DataFrame): Seq[Seq[String]] =
    rowSet(CsvIO.stringified(df))

  test("document schemas parse all fixture documents") {
    assert(userDocs.count() === 11)
    assert(recipeDocs.count() === 20)
    assert(interactionDocs.count() === 50)
    // nested arrays materialized, not null
    assert(recipeDocs.filter("ingredients IS NULL OR steps IS NULL").count() === 0)
  }

  test("users: 4-column projection drops role, matches golden users.csv") {
    assert(normalized(Normalize.users(userDocs)) === golden("users.csv"))
  }

  test("recipes: 6-column projection drops servings/arrays, matches golden recipe.csv") {
    assert(normalized(Normalize.recipes(recipeDocs)) === golden("recipe.csv"))
  }

  test("ingredients: array<struct> explode matches golden ingredients.csv (120 rows)") {
    val out = Normalize.ingredients(recipeDocs)
    assert(out.count() === 120)
    assert(normalized(out) === golden("ingredients.csv"))
  }

  test("steps: posexplode with 1-based ordinal matches golden steps.csv (65 rows)") {
    val out = Normalize.steps(recipeDocs)
    assert(out.count() === 65)
    assert(normalized(out) === golden("steps.csv"))
    // ordinals are dense 1..n per recipe
    val bad = out.groupBy("recipe_id")
      .agg(org.apache.spark.sql.functions.expr(
        "min(step_number) != 1 OR max(step_number) != count(*)").as("bad"))
      .filter("bad").count()
    assert(bad === 0)
  }

  test("interactions: null-safe rating projection matches golden interactions.csv") {
    val out = Normalize.interactions(interactionDocs)
    assert(out.count() === 50)
    // most golden ratings are null (reference seeds None at p≈0.7; the
    // golden run landed on 38/50)
    assert(out.filter("rating IS NULL").count() === 38)
    assert(normalized(out) === golden("interactions.csv"))
  }

  test("normalize() emits all five tables with the declared star columns") {
    val tables = Normalize.normalize(userDocs, recipeDocs, interactionDocs)
    assert(tables.keySet === Schemas.starTables.keySet)
    tables.foreach { case (name, df) =>
      assert(df.columns.toSeq === Schemas.starTables(name).fieldNames.toSeq, name)
    }
  }
}
