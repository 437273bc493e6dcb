package graft.recipes

import graft.etl.Validate
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

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

  /** Columns of `validation_report.csv`: the report's four plus the
    * `Validated_At` stamp (src/data_validation.py:178).
    */
  val ReportColumns: Seq[String] = Seq("Table", "Record_ID", "Status", "Issues", "Validated_At")

  /** Run the full pipeline; returns per-table row counts (the reference's
    * progress logging, etl_pipeline.py:101). Each count is observed on the
    * table's CSV write, so the pipeline runs six SQL executions in all:
    * the five table writes and the report write.
    */
  def run(spark: SparkSession, docsDir: String, outDir: String): Map[String, Long] = {
    // EXTRACT: declared-schema document reads (no inference)
    val users = Normalize.readDocs(spark, s"$docsDir/users.jsonl", Schemas.userDoc)
    val recipes = Normalize.readDocs(spark, s"$docsDir/recipes.jsonl", Schemas.recipeDoc)
    val interactions =
      Normalize.readDocs(spark, s"$docsDir/interactions.jsonl", Schemas.interactionDoc)

    // TRANSFORM: document → star (projections + explodes, no shuffle)
    val star = Normalize.normalize(users, recipes, interactions)

    // LOAD: one headered CSV per table. Each table's row count rides its
    // write job (`observe`), so nothing re-reads the documents to count.
    val observed = star.map { case (table, df) =>
      val obs = Observation()
      CsvIO.writeTable(df.observe(obs, count(lit(1)).as("n")), s"$outDir/${TableFiles(table)}")
      table -> obs
    }

    // VALIDATE what was actually written (all-string read, like the
    // reference's DictReader pass, of each table's declared columns) →
    // stamped report CSV
    val written = TableFiles.map { case (table, file) =>
      table -> CsvIO.readStrings(
        spark, s"$outDir/$file", Schemas.starTables(table).fieldNames.toSeq)
    }
    val report = Validate.withTimestamp(RecipeValidation.validateAll(written))
    CsvIO.writeTable(report, s"$outDir/validation_report.csv")

    observed.map { case (t, obs) => t -> obs.get("n").asInstanceOf[Long] }
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
