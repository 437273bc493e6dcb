package graft.recipes

import org.apache.spark.sql.SparkSession

/** Request-shaped ETL entry point — the reference's HTTP-triggered
  * serverless handler (`/root/reference/cloud_function/main.py:10-17`)
  * re-expressed as a driver main with the same contract:
  *
  *   1. configuration guard — missing config is a 500 BEFORE any work
  *      (`main.py:16-17`, the BUCKET_NAME check);
  *   2. connection probe — a limit-1 scan of the users collection,
  *      warning (not failing) when it comes back empty
  *      (`main.py:28-33`);
  *   3. run the composed pipeline ([[RecipeEtl.run]] = extract →
  *      normalize → CSV load → validation report);
  *   4. envelope — status 200 with the processed-recipes count and
  *      per-table rows on success, status 500 with the error message on
  *      ANY failure (`main.py:141-150`); the process exit code mirrors
  *      the status so schedulers see the same signal an HTTP caller
  *      would.
  *
  * [[handle]] never throws — the catch-all → 500 envelope IS the
  * reference's `except Exception` branch — so a serving layer can call
  * it per request without its own wrapper.
  */
object EtlHandler {

  /** The HTTP-style response envelope: `status` is the code the
    * reference returns (200/500), `body` a one-line JSON document.
    */
  final case class Response(status: Int, body: String)

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** Probe + run + envelope for one request. */
  def handle(spark: SparkSession, docsDir: String, outDir: String): Response =
    try {
      // connection probe (main.py:28-33): limit-1 over the users
      // collection — a scheduling/availability check, deliberately NOT
      // a fatal gate when the collection is merely empty
      val probed = Normalize
        .readDocs(spark, s"$docsDir/users.jsonl", Schemas.userDoc)
        .limit(1).count()
      if (probed == 0)
        System.err.println("[etl] warning: users collection empty or inaccessible")
      val counts = RecipeEtl.run(spark, docsDir, outDir)
      val rows = counts.toSeq.sortBy(_._1)
        .map { case (t, n) => s""""${esc(t)}":$n""" }.mkString("{", ",", "}")
      Response(200,
        s"""{"status":"success","processed_recipes":${counts.getOrElse("recipes", 0L)},""" +
          s""""rows":$rows,"output":"${esc(outDir)}"}""")
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        Response(500, s"""{"status":"error","message":"Pipeline Failed: ${esc(msg)}"}""")
    }

  def main(args: Array[String]): Unit = {
    // configuration guard (main.py:16-17): missing args are a 500
    // envelope, not a stack trace
    if (args.length != 2) {
      println("""{"status":"error","message":"usage: EtlHandler <docsDir> <outDir>"}""")
      sys.exit(1)
    }
    val Array(docsDir, outDir) = args
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4)
      .appName("recipe-etl-handler")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = try handle(spark, docsDir, outDir) finally spark.stop()
    println(r.body)
    sys.exit(if (r.status == 200) 0 else 1)
  }
}
