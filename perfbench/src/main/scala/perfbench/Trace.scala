package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Raw records of a traced run, as JSON-ready maps. `run.py` links them
  * into spans (pass > operation > build/action > SQL execution > job >
  * stage) and derives the per-layer metrics.
  */
object Trace {
  def records(rec: Recorder): Map[String, Any] = rec.synchronized {
    Map(
      "jobs" -> rec.jobs.map(j => Map("id" -> j.id, "tag" -> j.tag, "exec" -> j.exec.getOrElse(-1L),
        "stages" -> j.stageIds, "start_ms" -> j.start, "end_ms" -> j.end)).toSeq,
      "stages" -> rec.stages.values.toSeq.sortBy(s => (s.submit, s.id)).map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "tag" -> s.tag, "submit_ms" -> s.submit,
        "end_ms" -> s.end, "first_launch_ms" -> s.firstLaunch, "tasks" -> s.tasks,
        "failed_tasks" -> s.failedTasks, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
        "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes)),
      "sqls" -> rec.sqls.values.toSeq.map(x => Map("id" -> x.id, "start_ms" -> x.start,
        "end_ms" -> x.end, "description" -> x.description, "target" -> x.target,
        "topk_nodes" -> x.nodes.topK, "fallback_nodes" -> x.nodes.fallback)),
      "plannings" -> rec.plannings.toSeq.map(q => Map("func" -> q.funcName,
        "range_joins" -> q.rangeJoins,
        "phases" -> q.phases.map { case (k, (s, e)) => k -> Seq(s, e) })))
  }
}

/** Nanoseconds per call of the program's string kernels, on texts
  * sampled from the `documents` table: the functions layer the
  * near-duplicate queries spend their task time in, timed without Spark.
  */
object Kernels {
  def measure(spark: SparkSession, dataDir: String): Map[String, Double] = {
    import graft.functions._
    val texts = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("text").limit(256).collect().map(r => UTF8String.fromString(r.getString(0)))
    val n = texts.length
    var sink = 0L
    def nsPerCall(calls: Int)(f: Int => Long): Double = {
      var i = 0
      while (i < calls) { sink += f(i); i += 1 } // warm the JIT
      val reps = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        var j = 0
        while (j < calls) { sink += f(j); j += 1 }
        (System.nanoTime() - t0).toDouble / calls
      }.sorted
      reps(2)
    }
    val prefixes = texts.map(t => UTF8String.fromString(t.toString.take(64)))
    val out = Map(
      "jaro_winkler" -> nsPerCall(20000)(i => java.lang.Double.doubleToLongBits(
        JaroWinklerSimilarity.compute(texts(i % n), texts((i * 31 + 7) % n)))),
      "banded_levenshtein" -> nsPerCall(20000)(i =>
        BandedLevenshtein.compute(prefixes(i % n), prefixes((i * 17 + 3) % n), 16).toLong),
      "minhash_band_sigs" -> nsPerCall(4000)(i =>
        MinhashSigs.computeBandSigs(texts(i % n), 104, 13, 1).getLong(0)),
      "ngram_md5" -> nsPerCall(4000)(i =>
        NgramMd5Hashes.computePositional(texts(i % n), 8).numElements().toLong))
    if (sink == Long.MinValue) Main.warn("unreachable") // keeps the calls live
    out
  }
}
