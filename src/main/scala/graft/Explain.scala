package graft

/** Plan-audit helper: print the formatted physical plan of registry
  * queries (all, or the names passed as args after the sf dir). Used to
  * check that filters reach the parquet scan (PushedFilters), dims
  * broadcast, top-k compiles to TakeOrderedAndProject, and codegen spans
  * stay wide.
  *
  * Usage: `runMain graft.Explain /root/testdata/sf0.001 [query ...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.registry.map(_.name)
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===== $name =====")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
