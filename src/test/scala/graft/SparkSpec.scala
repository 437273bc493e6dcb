package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

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
  val GoldenDir = "/root/reference/output"
  val Sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  override def afterAll(): Unit = spark.catalog.clearCache()

  /** Rows as sorted tuples-of-strings for order-insensitive comparison. */
  def rowSet(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString(""))
}
