package graft

import graft.recipes.{RecipeEtl, RecipeGoldenQueries}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalactic.source.Position
import org.scalatest.{Assertions, BeforeAndAfterAll}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (suites run
  * sequentially in the forked test JVM; recreating SparkContexts per
  * suite costs ~5s each).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-tests")
      // staged(): session-lifetime + shutdown-hook deletion — before this
      // every test JVM left its warehouse dir behind (58 orphans found)
      .config("spark.sql.warehouse.dir",
        TempDirs.staged("test_warehouse")(_ => ()).resolve("wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val FixtureDir = "src/test/resources/fixtures"
  val GoldenDir = RecipeGoldenQueries.DefaultGoldenDir
  val Sf0001 = "/root/testdata/sf0.001"

  /** The five CSVs (plus `validation_report.csv`) that `RecipeEtl.run`
    * writes from the document fixtures: the reference-shaped star tables
    * every checkout has. Written once per test JVM into a fresh directory
    * (the pid keeps a killed run's leftovers out), deleted at JVM exit.
    */
  lazy val FixtureExports: String =
    TempDirs.staged(s"fixture_exports_${ProcessHandle.current().pid()}") { dir =>
      RecipeEtl.run(spark, FixtureDir, dir.toString)
    }.toString

  /** Path of `relPath` inside the reference checkout (the directory that
    * holds [[GoldenDir]]). Cancels the calling test, naming the path, when
    * the file is absent: the golden diffs compare against the reference's
    * own bytes, which the repository does not hold.
    */
  def referenceFile(relPath: String)(implicit pos: Position): String = {
    val p = Paths.get(GoldenDir).getParent.resolve(relPath)
    Assertions.assume(Files.exists(p), s"reference file $p is absent")
    p.toString
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  override def afterAll(): Unit = spark.catalog.clearCache()

  /** Runs `f` with the session confs `pairs` set, then restores them. */
  def withConfs[T](pairs: (String, String)*)(f: => T): T = {
    val priors = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally priors.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows as sorted tuples-of-strings for order-insensitive comparison. */
  def rowSet(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString("\u0001"))
}
