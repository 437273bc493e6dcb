package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: set up, stage fixtures, write the
  * outputs the correctness check reads, run one untimed warm-up pass,
  * then run closed-loop passes over the workload (one client: each
  * operation starts when the previous one has finished) until `--seconds`
  * have passed, at least three passes ran and, in a traced run, enough
  * latency samples exist. Writes every raw measurement to `--out` as
  * JSON; `run.py` turns them into metrics. Diagnostics go to stderr.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --data DIR --work DIR --out FILE --spawn-ms EPOCH_MS
  *   [--queries a,b,c] [--docs users,recipes,interactions]
  *   [--inputs-only 1]
  */
object Main {

  /** Latency samples of untraced passes a traced run collects at least:
    * op.wall_p66_s then has at least 10 samples beyond it.
    */
  val MinSamples = 30
  /** No pass starts after this, so a run ends well within its time limit. */
  val MaxLoopSeconds = 100.0

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Wall clock in fractional epoch milliseconds, steady between reads. */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def fsBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread: the driver side of an operation
    * (building the query, Catalyst, planning, job submission). Unlike the
    * whole process's CPU it leaves out JIT compilation, which keeps
    * compiling Spark's generated code throughout a run.
    */
  def driverCpuNs(): Long = threads.getCurrentThreadCpuTime

  /** (steal, total) jiffies of all CPUs: the share of time the host ran
    * something else on the virtual CPUs the benchmark runs on.
    */
  private def stealJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val dataDir = args("data")
    val workDir = args("work")
    val spawnMs = args("spawn-ms").toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionMs = nowMs()

    val rec = new Recorder(traced)
    sc.addSparkListener(rec)
    if (traced) spark.listenerManager.register(rec)

    // Input generation: its time is measured and left out of set-up.
    val genStart = nowMs()
    val expectedDocs: Map[String, Long] = workload match {
      case "recipe_etl" =>
        val Array(u, r, i) = args("docs").split(",").map(_.toInt)
        Workloads.writeRecipeDocs(spark, s"$workDir/docs", seed, u, r, i)
      case _ => Map.empty
    }
    val genMs = nowMs() - genStart

    val w: Workload = workload match {
      case "recipe_etl" => new Workloads.Recipes(spark, s"$workDir/docs", workDir)
      case _ => new Workloads.Registry(spark, dataDir, args("queries").split(",").toSeq, seed)
    }
    if (args.get("inputs-only").contains("1")) {
      // Only show what the seed generated: documents (already written) or
      // the query order of the first passes.
      if (workload != "recipe_etl")
        Files.writeString(Paths.get(s"$workDir/order.txt"),
          (0 until 3).map(w.pass(_).map(_.name).mkString(",")).mkString("\n"))
      spark.stop()
      return
    }
    val oracles: Map[String, String] = workload match {
      case "recipe_etl" =>
        // ra1..ra10 are checked with the oracle SQL of their rg twins,
        // pointed at the CSVs the ETL wrote.
        graft.SparkEntry.oracleSql.collect { case (k, sql) if k.startsWith("rg") =>
          ("ra" + k.drop(2)) -> sql.replace(graft.recipes.RecipeGoldenQueries.DefaultGoldenDir,
            s"$workDir/verify/csv")
        }
      case _ =>
        val names = args("queries").split(",").toSet
        graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    }
    val stageStart = nowMs()
    val (fixtures, fixturesFailed) = w.stage()
    val stageMs = nowMs() - stageStart
    val verifyStart = nowMs()
    val verifyFailed = w.verify(s"$workDir/verify")
    val verifyMs = nowMs() - verifyStart
    // One untimed pass as the timed ones run it: the verification pass
    // alone leaves the JIT still warming through the first timed passes.
    val warmStart = nowMs()
    w.pass(-1).foreach { op =>
      Workloads.isolate(spark)
      try op.action(op.build())
      catch { case e: Throwable => warn(s"warm-up ${op.name} threw: $e") }
    }
    val warmMs = nowMs() - warmStart

    // A traced run traces passes 1, 2, 5, 6, ...: the untraced ones
    // around them give the tracing overhead, balanced against warm-up drift.
    def tracedPass(p: Int): Boolean = traced && (p % 4 == 1 || p % 4 == 2)
    def runPass(p: Int): Map[String, Any] = {
      val codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val fs0 = fsBytes()
      val ops = w.pass(p).zipWithIndex.map { case (op, i) =>
        Workloads.isolate(spark)
        val tracedOp = tracedPass(p)
        val tag = (if (tracedOp) Recorder.TracedPrefix else "") + s"$p/$i"
        sc.setLocalProperty(Recorder.OpKey, tag)
        val f0 = if (tracedOp) fsBytes() else (0L, 0L)
        val c0 = driverCpuNs()
        val t0 = nowMs()
        var t1 = t0
        var f1 = f0
        var result = -1L
        val error = try {
          val df = op.build()
          t1 = nowMs()
          if (tracedOp) f1 = fsBytes()
          result = op.action(df)
          ""
        } catch {
          case e: Throwable =>
            warn(s"pass $p ${op.name} threw: $e")
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        val t2 = nowMs()
        val c2 = driverCpuNs()
        sc.setLocalProperty(Recorder.OpKey, null)
        Map("name" -> op.name, "tag" -> tag, "start_ms" -> t0, "build_end_ms" -> t1,
          "end_ms" -> t2, "driver_cpu_ms" -> (c2 - c0) / 1e6, "error" -> error,
          "result" -> result, "build_read_bytes" -> (f1._1 - f0._1))
      }
      val fs1 = fsBytes()
      System.gc()
      Map("pass" -> p, "traced" -> tracedPass(p), "ops" -> ops,
        "codegen_compile_ns" -> (CodeGenerator.compileTime - codegen0._1),
        "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2),
        "fs_read_bytes" -> (fs1._1 - fs0._1), "fs_write_bytes" -> (fs1._2 - fs0._2))
    }
    val firstOpMs = nowMs()
    val setupS = (firstOpMs - spawnMs - genMs) / 1000.0
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var samples = 0
    var p = 0
    // At least 3 passes, so a per-pass median has one on each side; a
    // traced run also MinSamples latencies from its untraced passes.
    def enough = p >= 3 && (!traced || samples >= MinSamples)
    def elapsedS = (nowMs() - firstOpMs) / 1000.0
    val steal0 = stealJiffies()
    while ((elapsedS < seconds || !enough) && elapsedS < MaxLoopSeconds) {
      val pass = runPass(p)
      passes += pass
      if (!tracedPass(p))
        samples += pass("ops").asInstanceOf[Seq[Map[String, Any]]].count(_("name") != "etl")
      p += 1
    }
    val steal1 = stealJiffies()

    val kernels = if (traced) Kernels.measure(spark, dataDir) else Map.empty[String, Double]
    rec.awaitQuiet()
    val withTasks = passes.map { pass =>
      pass + ("ops" -> pass("ops").asInstanceOf[Seq[Map[String, Any]]].map { op =>
        val (tasks, cpuNs) = rec.tagTotals(op("tag").toString)
        op ++ Map("tasks" -> tasks, "task_cpu_ms" -> cpuNs / 1e6)
      })
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "spawn_ms" -> spawnMs, "session_ready_ms" -> sessionMs, "first_op_ms" -> firstOpMs,
      "generation_ms" -> genMs, "stage_ms" -> stageMs, "verify_ms" -> verifyMs, "warm_ms" -> warmMs,
      "setup_s" -> setupS,
      "steal_share" -> (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2),
      "fixtures" -> fixtures, "fixtures_failed" -> fixturesFailed,
      "verify_failed" -> verifyFailed, "expected_docs" -> expectedDocs, "oracles" -> oracles,
      "passes" -> withTasks, "peak_rss_kb" -> peakRssKb())
    if (traced) out ++= Trace.records(rec) + ("kernels_ns" -> kernels)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(out))
    spark.stop()
  }
}
