package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark sweep: every `bench = true` registry query against
  * SPARK_GRAFT_SF_DIR, one JSON summary line on stdout for the driver.
  *
  * Output-size constraint: the driver keeps only the final ~2000 chars of
  * the run's output, so the stdout line uses 2-decimal times, the sf
  * basename, omits `errors` when empty, and lists only the slowest
  * queries plus an `others` rollup (the full registry outgrew the window
  * at ~77 entries); the full-precision record (every query's seconds,
  * errors, telemetry, total) is always written to BENCH_FULL.json
  * alongside. If the widened rerun/io sections would push the line past
  * the window, the shown-query count shrinks to fit — attribution
  * evidence outranks tail entries.
  *
  * Self-honesty: a query that throws is recorded in `errors` (and still
  * contributes its elapsed time) instead of silently benching as ~0s —
  * a plan-time failure must not masquerade as a speedup.
  *
  * Attribution telemetry (per timed window, listener-drained so events
  * can't bleed between queries): GC ms, cache MB, input/output/shuffle
  * bytes, and summed executor task ms. A swing with flat bytes + flat
  * task-ms but inflated wall time is scheduler/box noise; inflated
  * task-ms with flat bytes is CPU contention; inflated bytes is a plan
  * or fixture change — the r6 lk1 question ("I/O contention or
  * regression?") becomes answerable from the artifact alone.
  *
  * Rerun policy: the 3 slowest queries PLUS every query whose first run
  * exceeds 2x its best driver-recorded time from the prior rounds
  * (bench_prior.json, checked in) — the r6 verdict's ask, replacing the
  * top-3-only rule under which q5/q1/lk3-style swings went unattributed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Full materialization via the noop sink — a count() would let Catalyst
    // prune every unreferenced column and sort, so projection-heavy queries
    // would be benchmarked without executing their expensive expressions.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    // Constant-size queries (bench = false, e.g. the seed-derived recipe
    // star analytics) are excluded: they don't read sfDir, so timing them
    // adds noise, not scaling signal. They remain in Verify/CORRECTNESS.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the sweep (local iteration;
    // the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val benched = SparkEntry.registry.filter(_.bench)
      .filter(q => only.forall(_.contains(q.name)))
    val names = benched.map(_.name)

    // Warm-up sweep at the smallest SF: exercises the same plans so JIT /
    // codegen / parquet-footer first-touch cost doesn't land on whichever
    // query the measured sweep happens to run first.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).exists()) names.foreach { name =>
      try run(SparkEntry.queries(name), warmDir) catch { case _: Throwable => () }
    }
    // Kernel JIT warm-up, still inside the untimed region: the sf0.001
    // sweep exercises every PLAN but makes only ~10^2-10^3 calls into
    // the shared static kernels (Jaro-Winkler, banded Levenshtein, the
    // minhash/banding digests) — far below C2 compile thresholds, so the
    // first sf0.1 query paying a pair-heavy kernel ran it 3-4x slower
    // than steady state (r16 profiling: rl4 55 -> 8.5 task-s, dd9
    // 69 -> 20 across three same-plan runs). Looping the kernels here
    // compiles them once per JVM; deterministic inputs cover every
    // dispatch tier (byte-equal, ASCII bit-parallel, >128-char ASCII,
    // non-ASCII), and the folded checksum defeats dead-code elimination.
    // The timed region is unchanged — this is the warmup doing its job.
    locally {
      import org.apache.spark.unsafe.types.UTF8String
      val rnd = new java.util.Random(42)
      val words = Array("alpha", "bravo", "charlie", "delta", "echo",
        "foxtrot", "golf", "hotel", "india", "juliet")
      def str(len: Int, ascii: Boolean): UTF8String = {
        val sb = new java.lang.StringBuilder(len + 8)
        while (sb.length < len) { sb.append(words(rnd.nextInt(words.length))); sb.append(' ') }
        if (!ascii) sb.setCharAt(0, 'é')
        UTF8String.fromString(sb.substring(0, len))
      }
      val heads = Array.fill(64)(str(80, ascii = true))
      val longA = Array.fill(8)(str(200, ascii = true))
      val nonA = Array.fill(8)(str(80, ascii = false))
      val prefixes = Array.fill(64)(str(64, ascii = true))
      val docTexts = Array.fill(16)(str(300, ascii = true))
      var bh = 0L
      var i = 0
      while (i < 300000) {
        val a = heads(i & 63)
        bh += java.lang.Double.doubleToLongBits(
          functions.JaroWinklerSimilarity.compute(a, heads((i * 31 + 7) & 63)))
        bh += functions.BandedLevenshtein.compute(
          prefixes(i & 63), prefixes((i * 17 + 3) & 63), 16)
        i += 1
      }
      i = 0
      while (i < 20000) {
        bh += java.lang.Double.doubleToLongBits(
          functions.JaroWinklerSimilarity.compute(longA(i & 7), longA((i + 3) & 7)))
        bh += java.lang.Double.doubleToLongBits(
          functions.JaroWinklerSimilarity.compute(nonA(i & 7), nonA((i + 1) & 7)))
        bh += functions.BandedLevenshtein.compute(nonA(i & 7), nonA((i + 2) & 7), 16)
        i += 1
      }
      i = 0
      while (i < 20000) {
        val d = docTexts(i & 15)
        bh += functions.MinhashSigs.computeBandSigs(d, 104, 13, 1 + (i & 1)).getLong(0)
        bh += functions.NgramMd5Hashes.computePositional(d, 8).numElements()
        bh += functions.BigramMd5Hashes.compute(d).numElements()
        i += 1
      }
      if (bh == Long.MinValue) System.err.println(bh) // blackhole
    }
    // Second warmup pass, sf0.01, pair-heavy families only: their hot
    // loops live in per-plan GENERATED classes (pair enumeration,
    // distinct, verify), which the kernel loop above cannot touch and
    // which see only ~10^2 rows at sf0.001 — far below the JIT's
    // backedge thresholds. sf0.01 drives ~23k candidate pairs through
    // the same generated sources (the codegen cache keys on source, so
    // the compiled classes carry over to the timed sf0.1 run). Still
    // entirely inside the untimed warmup; list fixed so the cost is
    // bounded (~15 queries) whatever the registry grows to.
    val warm2Dir = "/root/testdata/sf0.01"
    val pairHeavy = Seq(
      "dd2_minhash_signatures", "dd3_lsh_candidates", "dd4_jaccard_neardup",
      "dd5_simhash", "dd6_dup_clusters", "dd7_ngram_jaccard",
      "dd8_minhash_estimate", "dd9_edit_verify", "dd10_substring_scrub",
      "dd12_containment", "rl1_blocked_linkage", "rl2_multipass_linkage",
      "rl3_golden_record", "rl4_fellegi_sunter")
    if (new java.io.File(warm2Dir).exists())
      pairHeavy.filter(names.contains).foreach { name =>
        try run(SparkEntry.queries(name), warm2Dir) catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    TempDirs.sweep()

    // Scenario fixtures (Q.stage) land OUTSIDE the timed windows: a
    // query's recorded time is the operator, not its fixture write
    // (st3's prior number was mostly its own setup write — r6 verdict).
    // Staged dirs are content-keyed and session-lifetime, so reruns
    // reuse them and TempDirs.sweep() between queries leaves them alone.
    // A fixture that throws is recorded as that query's error: the query
    // then re-stages inside its timed window, so its time is not the
    // operator alone.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName)
    benched.foreach(q => q.stage.foreach(st =>
      try st(spark, sfDir)
      catch { case e: Throwable => errors(q.name) = s"fixture: ${message(e).take(80)}" }))

    // Machine-load context: a shared box can inflate CPU-saturating
    // queries up to ~2x run-to-run (round-3's dd3 12.2s->21.3s was load,
    // not code — it cost a round of comparability to prove). Recording
    // loadavg start/end plus reruns of the slowest/swung queries lets a
    // reader separate load artifacts from real regressions in-artifact.
    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg()

    // Best recorded time per query across prior driver artifacts AND
    // the builder's own sweeps (bench_prior.json, regenerated each
    // round): the 2x rerun trigger's reference — "best known" maximizes
    // trigger sensitivity without ever suppressing a real regression.
    // Absent file or query -> no trigger. Two formats: legacy flat
    // {name: wall_sec} and the task-primary {name: {"wall": w,
    // "task": t}} — task-seconds are load-insensitive (a loaded box
    // stretches wall while task-time stays flat), so where a task floor
    // exists the swing trigger keys on it (prior._2) and wall becomes
    // the secondary signal.
    val prior: Map[String, (Double, Option[Double])] =
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(Paths.get("bench_prior.json")))
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map { e =>
          val v = e.getValue
          if (v.isObject)
            e.getKey -> (v.get("wall").asDouble(),
              Option(v.get("task")).map(_.asDouble()))
          else e.getKey -> (v.asDouble(), None)
        }.toMap
      } catch { case _: Throwable => Map.empty }

    // Per-query attribution telemetry: (gc_ms, cache_mb, in_kb, out_kb,
    // shuffle_kb, task_ms). Cache is read BEFORE the inter-query
    // clearCache; byte/task counters come from a task-end listener,
    // drained before each snapshot so stage-end stragglers can't book
    // against the wrong query.
    final case class Tele(gc: Long, cacheMb: Long, inKb: Long, outKb: Long,
        shKb: Long, taskMs: Long)
    val telemetry = scala.collection.mutable.LinkedHashMap[String, Tele]()
    val io = new org.apache.spark.scheduler.SparkListener {
      import java.util.concurrent.atomic.AtomicLong
      val in = new AtomicLong; val out = new AtomicLong
      val sh = new AtomicLong; val task = new AtomicLong
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          in.addAndGet(m.inputMetrics.bytesRead)
          out.addAndGet(m.outputMetrics.bytesWritten)
          sh.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          task.addAndGet(m.executorRunTime)
        }
      }
      def snap(): (Long, Long, Long, Long) = {
        org.apache.spark.graft.BusFlush.flush(spark.sparkContext)
        (in.get, out.get, sh.get, task.get)
      }
    }
    spark.sparkContext.addSparkListener(io)
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def cachedMb(): Long =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024 * 1024)
    def timed(name: String, dir: String): (String, Double) = {
      // Untimed inter-query cleanup: drop per-query persisted
      // intermediates, reclaim the previous query's scratch dirs, and
      // force a GC so the ContextCleaner reaps accumulated broadcast/
      // shuffle state — without this, queries late in the sweep measure
      // the prior queries' garbage, not themselves (observed 5-10x
      // inflation on trivial queries at sweep position 40).
      spark.catalog.clearCache()
      TempDirs.sweep()
      System.gc()
      val (in0, out0, sh0, task0) = io.snap()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      try run(SparkEntry.queries(name), dir)
      catch {
        // a fixture failure stays recorded: it is the first cause
        case e: Throwable => errors.getOrElseUpdate(name, message(e).take(80))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val cache = cachedMb()
      val (in1, out1, sh1, task1) = io.snap()
      telemetry(name) = Tele(gcMs() - gc0, cache, (in1 - in0) >> 10,
        (out1 - out0) >> 10, (sh1 - sh0) >> 10, task1 - task0)
      name -> sec
    }
    val results = names.map(timed(_, sfDir))
    val total = results.map(_._2).sum
    // Rerun pass: if run2 << run1 the first number was load/GC noise, not
    // plan cost. (Cleanup inside timed() keeps caches from making run2
    // trivially fast — this re-executes the full plan.) Set = 3 slowest
    // + every >2x-vs-prior swing, slowest first, capped at 12 so a
    // pathological round can't double the sweep.
    val rerunSet = {
      val slowest = results.sortBy(-_._2).take(3).map(_._1)
      // Task-seconds outrank wall for the swing test where a task floor
      // exists: wall-only swings on a flat task profile are box load,
      // which the rerun exists to prove, so both still trigger it —
      // but a task-seconds swing is flagged even when wall looks calm.
      def taskS(n: String): Option[Double] =
        telemetry.get(n).map(_.taskMs / 1000.0)
      val swung = results.collect {
        case (n, s) if prior.get(n).exists { case (wall, task) =>
          s > 2 * wall || task.exists(t => taskS(n).exists(_ > 2 * t))
        } => n
      }
      val ordered = results.sortBy(-_._2).map(_._1)
        .filter(n => slowest.contains(n) || swung.contains(n))
      ordered.take(12)
    }
    val rerun = rerunSet.map(timed(_, sfDir))
    val loadEnd = loadavg()
    TempDirs.sweep()

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    // 2-decimal, trailing zeros stripped ("0.30" -> "0.3", "1.00" -> "1").
    def fmt(v: Double): String = {
      val s = f"$v%.2f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    // the EFFECTIVE parallelism the sweep ran under, so a reader can
    // tell a core-count change from an engine change
    val cores = spark.sparkContext.defaultParallelism
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    def line(f: Double => String, keep: Int, errCap: Int = 5,
        errLen: Int = 40): String = {
      // stdout budget: the registry outgrew the driver's ~2000-char tail
      // window at ~77 entries, so the printed line carries the `keep`
      // slowest queries (the scaling signal) plus an `others` rollup;
      // BENCH_FULL.json always carries every query.
      val (shown, folded) = results.sortBy(-_._2).splitAt(keep)
      val qs = shown.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      // PRIMARY per-query metric: summed executor task-seconds of the
      // same queries — load-insensitive where wall is not (a busy box
      // stretches wall with a flat task profile), so round-over-round
      // comparison should key on task_s first and treat `queries`
      // (wall) as the secondary, noise-bearing signal.
      val taskJson = shown.flatMap { case (k, _) =>
        telemetry.get(k).map(t => "\"" + k + "\":" + f(t.taskMs / 1000.0)) }
        .mkString(""","task_s":{""", ",", "}")
      val othersJson =
        if (folded.isEmpty) ""
        else s""","others":{"n":${folded.size},"sec":${f(folded.map(_._2).sum)},"task_s":${
          f(folded.flatMap(p => telemetry.get(p._1)).map(_.taskMs).sum / 1000.0)}}"""
      // Stdout shows at most 5 errors at 40 chars each; BENCH_FULL.json
      // carries every message untruncated (errLen = MaxValue there) —
      // r7's seven 80-char errors alone cost ~900 chars and pushed the
      // line past the driver's tail window, so the artifact recorded
      // parsed:null.
      val errJson =
        if (errors.isEmpty) ""
        else errors.take(errCap).map { case (k, v) =>
          "\"" + esc(k) + "\":\"" + esc(v.take(errLen)) + "\"" }
          .mkString(s""","n_errors":${errors.size},"errors":{""", ",", "}")
      val rerunJson = rerun
        .map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString(""","rerun":{""", ",", "}")
      // Attribution for exactly the queries a reader will question (the
      // rerun set), compact: [in_kb, out_kb, shuffle_kb, task_s] of the
      // LAST (rerun) window — comparable against prior rounds' numbers.
      val ioJson =
        if (rerun.isEmpty) ""
        else rerun.flatMap { case (k, _) => telemetry.get(k).map(t =>
          "\"" + esc(k) + s"""":[${t.inKb},${t.outKb},${t.shKb},${fmt(t.taskMs / 1000.0)}]""") }
          .mkString(""","io_kb_task_s":{""", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs$taskJson$othersJson,"sf":"${
        new java.io.File(sfDir).getName}","cores":$cores,"shuffle_partitions":$shufflePartitions,"load":{"start":"$loadStart","end":"$loadEnd"}$rerunJson$ioJson$errJson}"""
    }
    // Full telemetry rides in BENCH_FULL.json (no stdout budget there);
    // a rerun query's entry reflects its LAST (rerun) window.
    val teleJson = telemetry
      .map { case (k, t) => "\"" + esc(k) +
        s"""":{"gc_ms":${t.gc},"cache_mb":${t.cacheMb},"in_kb":${t.inKb},"out_kb":${
          t.outKb},"shuffle_kb":${t.shKb},"task_ms":${t.taskMs}}""" }
      .mkString(""","telemetry":{""", ",", "}")
    Files.writeString(
      Paths.get("BENCH_FULL.json"),
      line(_.toString, results.size, errCap = Int.MaxValue, errLen = Int.MaxValue)
        .stripSuffix("}") + teleJson + "}\n")
    // Fit the stdout line inside the driver's tail window: shrink the
    // shown-query tail before ever dropping rerun/io attribution.
    val out = (40 to 5 by -5).view.map(k => line(fmt, k))
      .find(_.length <= 1900).getOrElse(line(fmt, 5))
    println(out)
    spark.stop()
  }
}
