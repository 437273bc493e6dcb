package graft.recipes

import graft.etl.Validate
import org.apache.spark.sql.SparkSession

/** The composed batch ETL entry point — the executable form of the
  * reference's `run_etl_pipeline()` (`/root/reference/src/etl_pipeline.py:21-150`,
  * SURVEY.md §3.1): extract the three document collections, normalize to
  * the five star tables, load them as headered CSVs (reference
  * filenames, `recipe.csv` for the recipes table), then run the
  * data-quality validator over the written files and emit
  * `validation_report.csv` with the `Validated_At` stamp
  * (`src/data_validation.py:176-185`).
  *
  * Backup/upload (§3.1 step 5) is the same `CsvIO.writeTable` pointed at
  * an object-store URI — the Hadoop FS connector replaces the manual
  * blob upload.
  *
  * Usage: `runMain graft.recipes.RecipeEtl <docsDir> <outDir>` where
  * docsDir holds users.jsonl / recipes.jsonl / interactions.jsonl.
  */
object RecipeEtl {

  /** Reference CSV file name per star table (recipes → recipe.csv). */
  val TableFiles: Map[String, String] = Map(
    "users" -> "users.csv", "recipes" -> "recipe.csv",
    "ingredients" -> "ingredients.csv", "steps" -> "steps.csv",
    "interactions" -> "interactions.csv")

  /** Run the full pipeline; returns per-table row counts (the reference's
    * progress logging, etl_pipeline.py:101).
    */
  def run(spark: SparkSession, docsDir: String, outDir: String): Map[String, Long] = {
    // EXTRACT: declared-schema document reads (no inference)
    val users = Normalize.readDocs(spark, s"$docsDir/users.jsonl", Schemas.userDoc)
    val recipes = Normalize.readDocs(spark, s"$docsDir/recipes.jsonl", Schemas.recipeDoc)
    val interactions =
      Normalize.readDocs(spark, s"$docsDir/interactions.jsonl", Schemas.interactionDoc)

    // TRANSFORM: document → star (projections + explodes, no shuffle)
    val star = Normalize.normalize(users, recipes, interactions)

    // LOAD: one headered CSV per table
    star.foreach { case (table, df) =>
      CsvIO.writeTable(df, s"$outDir/${TableFiles(table)}")
    }

    // VALIDATE what was actually written (all-string read, like the
    // reference's DictReader pass) → stamped report CSV
    val written = TableFiles.map { case (table, file) =>
      table -> CsvIO.readStrings(spark, s"$outDir/$file")
    }
    val report = Validate.withTimestamp(RecipeValidation.validateAll(written))
    CsvIO.writeTable(report, s"$outDir/validation_report.csv")

    star.map { case (t, df) => t -> df.count() }
  }

  def main(args: Array[String]): Unit = {
    val Array(docsDir, outDir) = args
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4)
      .appName("recipe-etl")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counts = run(spark, docsDir, outDir)
    counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"$t: $n rows") }
    spark.stop()
  }
}
