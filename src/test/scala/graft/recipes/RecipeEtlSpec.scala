package graft.recipes

import graft.{SparkSpec, TestSpark}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The composed pipeline end-to-end: fixtures in, the reference's five
  * CSV files plus a stamped validation report out. The line diff against
  * the golden CSVs reads the reference checkout (`TestSpark.referenceFile`)
  * and cancels the test where it is absent, after the counts and the
  * report have been checked.
  */
class RecipeEtlSpec extends SparkSpec {

  test("run(): documents → 5 golden-identical CSVs + 266-row PASS report") {
    val out = Files.createTempDirectory("etl-out").toString
    val counts = RecipeEtl.run(spark, TestSpark.FixtureDir, out)
    assert(counts === Map(
      "users" -> 11L, "recipes" -> 20L, "ingredients" -> 120L,
      "steps" -> 65L, "interactions" -> 50L))

    val report = CsvIO.readStrings(spark, s"$out/validation_report.csv")
    assert(report.count() === 266)
    assert(report.filter("Status != 'PASS'").count() === 0)
    assert(report.columns.toSeq ===
      Seq("Table", "Record_ID", "Status", "Issues", "Validated_At"))

    def dataLines(dir: String): Seq[String] = {
      val part = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".csv")).next()
      Files.readAllLines(part).asScala.toSeq.tail.sorted
    }

    RecipeEtl.TableFiles.foreach { case (_, file) =>
      val golden = Files.readAllLines(Paths.get(TestSpark.referenceFile(s"output/$file")))
        .asScala.toSeq.tail.sorted
      assert(dataLines(s"$out/$file") === golden, file)
    }
  }
}
