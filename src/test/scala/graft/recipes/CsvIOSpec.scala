package graft.recipes

import graft.{SparkSpec, TestSpark}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CSV sink/source edge cases (S4/S7/S10): the written files must be
  * line-identical to the reference's Python `csv.DictWriter` output —
  * header, timestamp stringification, whole-float formatting, null →
  * empty string, minimal quoting.
  *
  * The four "byte-identical to golden" tests diff against the reference
  * checkout's own CSVs (`TestSpark.referenceFile`) and cancel where it is
  * absent. The `readStrings` test reads the fixture exports
  * (`TestSpark.FixtureExports`), so it runs everywhere.
  */
class CsvIOSpec extends SparkSpec {

  private lazy val recipeDocs =
    Normalize.readDocs(spark, s"${TestSpark.FixtureDir}/recipes.jsonl", Schemas.recipeDoc)
  private lazy val interactionDocs =
    Normalize.readDocs(spark, s"${TestSpark.FixtureDir}/interactions.jsonl", Schemas.interactionDoc)

  private def writtenLines(df: org.apache.spark.sql.DataFrame): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("csvio").toString
    CsvIO.writeTable(df, dir)
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).next()
    val lines = Files.readAllLines(part).asScala.toSeq
    (lines.head, lines.tail.sorted)
  }

  private def goldenLines(name: String): (String, Seq[String]) = {
    val lines = Files.readAllLines(Paths.get(TestSpark.referenceFile(s"output/$name"))).asScala.toSeq
    (lines.head, lines.tail.sorted)
  }

  test("ingredients.csv is byte-identical to golden (whole floats print as ints)") {
    val (header, lines) = writtenLines(Normalize.ingredients(recipeDocs))
    val (gHeader, gLines) = goldenLines("ingredients.csv")
    assert(header === gHeader)
    assert(lines === gLines)
    assert(lines.exists(_.contains(",0.5,")), "fractional quantity stays fractional")
    assert(lines.exists(_.contains(",300,")), "whole quantity prints without .0")
  }

  test("interactions.csv is byte-identical to golden (null rating → empty, py timestamps)") {
    val (header, lines) = writtenLines(Normalize.interactions(interactionDocs))
    val (gHeader, gLines) = goldenLines("interactions.csv")
    assert(header === gHeader)
    assert(lines === gLines)
    assert(lines.exists(_.matches(""".*,(view|like|cook_attempt),,.*""")),
      "null rating serializes as empty field")
  }

  test("recipe.csv is byte-identical to golden (quoted commas, tz-suffixed timestamps)") {
    val (header, lines) = writtenLines(Normalize.recipes(recipeDocs))
    val (gHeader, gLines) = goldenLines("recipe.csv")
    assert(header === gHeader)
    assert(lines === gLines)
  }

  test("steps.csv is byte-identical to golden (embedded commas are quoted)") {
    val (_, lines) = writtenLines(Normalize.steps(recipeDocs))
    val (_, gLines) = goldenLines("steps.csv")
    assert(lines === gLines)
    assert(lines.exists(_.contains("\"")), "commas inside instructions force quoting")
  }

  test("typed round-trip: write → readTyped preserves values and schema") {
    val out = Normalize.interactions(interactionDocs)
    val dir = Files.createTempDirectory("csvio-rt").toString
    CsvIO.writeTable(out, dir)
    val back = CsvIO.readTyped(spark, dir, Schemas.interactionsTable)
    assert(back.schema === Schemas.interactionsTable)
    assert(rowSet(CsvIO.stringified(back)) === rowSet(CsvIO.stringified(out)))
  }

  test("readStrings mirrors csv.DictReader: headered, all-string, empty → null") {
    val df = CsvIO.readStrings(spark, s"${TestSpark.FixtureExports}/interactions.csv",
      Schemas.interactionsTable.fieldNames.toSeq)
    assert(df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    assert(df.filter("rating IS NULL").count() === 38)
  }

  test("readStrings rejects a file whose header renames a declared column") {
    val dir = Files.createTempDirectory("csvio-drift").toString
    CsvIO.writeTable(Normalize.interactions(interactionDocs).withColumnRenamed("rating", "score"), dir)
    val e = intercept[Exception] {
      CsvIO.readStrings(spark, dir, Schemas.interactionsTable.fieldNames.toSeq).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("CSV header does not conform to the schema")),
      messages.mkString(" / "))
  }
}
