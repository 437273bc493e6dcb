package graft.recipes

import graft.{SparkSpec, TestSpark}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.BusFlush
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The composed pipeline end-to-end: fixtures in, the reference's five
  * CSV files plus a stamped validation report out. The line diff against
  * the golden CSVs reads the reference checkout (`TestSpark.referenceFile`)
  * and cancels the test where it is absent, after the counts and the
  * report have been checked.
  *
  * The pipeline's cost is pinned too: its row counts ride the CSV writes
  * and its readback declares each file's columns, so a run is exactly
  * the five table writes and the report write.
  */
class RecipeEtlSpec extends SparkSpec with TimeLimits {

  test("run(): documents → 5 golden-identical CSVs + 266-row PASS report") {
    val out = Files.createTempDirectory("etl-out").toString
    val counts = RecipeEtl.run(spark, TestSpark.FixtureDir, out)
    assert(counts === Map(
      "users" -> 11L, "recipes" -> 20L, "ingredients" -> 120L,
      "steps" -> 65L, "interactions" -> 50L))

    val report = CsvIO.readStrings(spark, s"$out/validation_report.csv", RecipeEtl.ReportColumns)
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

  test("run() is six SQL executions: the five table writes and the report write") {
    val out = Files.createTempDirectory("etl-executions").toString
    val executions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    BusFlush.flush(spark.sparkContext)
    spark.listenerManager.register(listener)
    val counts =
      try {
        val c = RecipeEtl.run(spark, TestSpark.FixtureDir, out)
        BusFlush.flush(spark.sparkContext)
        c
      } finally spark.listenerManager.unregister(listener)
    assert(executions.get === 6)
    assert(counts === Map(
      "users" -> 11L, "recipes" -> 20L, "ingredients" -> 120L,
      "steps" -> 65L, "interactions" -> 50L))
  }

  test("an empty users collection counts 0 users and does not block on the observed count") {
    val docs = Files.createTempDirectory("etl-empty-users")
    Seq("recipes.jsonl", "interactions.jsonl").foreach { f =>
      Files.copy(Paths.get(TestSpark.FixtureDir, f), docs.resolve(f))
    }
    Files.createFile(docs.resolve("users.jsonl"))
    val out = Files.createTempDirectory("etl-empty-users-out").toString
    implicit val signaler: Signaler = ThreadSignaler
    val counts = failAfter(Span(120, Seconds)) {
      RecipeEtl.run(spark, docs.toString, out)
    }
    assert(counts("users") === 0L)
    assert(counts("recipes") === 20L)
    assert(new java.io.File(s"$out/validation_report.csv").exists())
  }
}
