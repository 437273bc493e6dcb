package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** The event-time timer + TTL tier of the state API v2 (sm24's
  * operator): sessions close via INPUT (gap exceeded by a later event)
  * or via TIMER (watermark passes end+gap), timer closure clears the
  * key's state, the whole thing survives a kill-and-resume, and
  * TTL-configured state is actually evicted.
  */
class SessionTimeoutSpec extends SparkSpec {

  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  private val schema: StructType =
    Seq((1L, ts(0L), 1L, "t", 1.0, "p"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props").schema

  private def drained(landing: java.nio.file.Path, gapUs: Long,
      out: String, ckpt: String): Seq[(Long, Long, Long, Long, Long)] = {
    SessionTimeout.sessionStreamRocksDb(
      spark, landing.toString, schema, gapUs, out, ckpt)
    spark.read.parquet(out)
      .as[(Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
  }

  test("sessions close by input gap AND by watermark timer; state clears") {
    val root = Files.createTempDirectory("sv2_sess")
    val landing = Files.createDirectories(root.resolve("landing"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val hour = 3600000L
    // user 1: two sessions split by input (> 1h gap inside the replay);
    // user 2: one session only a TIMER can close (no later event)
    ReplayStaging.stage(landing, 0, Seq(
      (1L, ts(0L), 1L, "a", 1.0, ""),
      (2L, ts(10 * 60000L), 1L, "a", 0.5, ""),
      (3L, ts(5 * 60000L), 2L, "a", 2.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    ReplayStaging.stage(landing, 1, Seq(
      // 2h after user 1's last event -> input-driven closure of session 1
      (4L, ts(2 * hour + 10 * 60000L), 1L, "a", 0.25, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    // two far-future sentinels advance the watermark past every timer
    ReplayStaging.stage(landing, 2, Seq(
      (9000001L, ts(100 * hour), -1L, "s", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    ReplayStaging.stage(landing, 3, Seq(
      (9000002L, ts(101 * hour), -1L, "s", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))

    val got = drained(landing, gapUs = hour * 1000L, out, ckpt)
    assert(got === Seq(
      (1L, 0L, 10 * 60000000L, 2L, 15000L), // input-closed
      (1L, (2 * hour + 10 * 60000L) * 1000L, (2 * hour + 10 * 60000L) * 1000L,
        1L, 2500L), // timer-closed tail session
      (2L, 5 * 60000000L, 5 * 60000000L, 1L, 20000L) // timer-only user
    ))
  }

  test("sessionization survives a kill-and-resume mid-session") {
    val root = Files.createTempDirectory("sv2_sess_resume")
    val landing = Files.createDirectories(root.resolve("landing"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val hour = 3600000L
    ReplayStaging.stage(landing, 0, Seq(
      (1L, ts(0L), 1L, "a", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    // first drain: session still open (no sentinel yet), nothing emitted
    val first = drained(landing, gapUs = hour * 1000L, out, ckpt)
    assert(first.isEmpty, s"open session must not emit: $first")
    // resume: extend the session within the gap, then close via sentinels
    ReplayStaging.stage(landing, 1, Seq(
      (2L, ts(30 * 60000L), 1L, "a", 0.5, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    ReplayStaging.stage(landing, 2, Seq(
      (9000001L, ts(100 * hour), -1L, "s", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    ReplayStaging.stage(landing, 3, Seq(
      (9000002L, ts(101 * hour), -1L, "s", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val resumed = drained(landing, gapUs = hour * 1000L, out, ckpt)
    // ONE session spanning the restart: state (and its armed timer)
    // came back from the checkpointed store
    assert(resumed === Seq((1L, 0L, 30 * 60000000L, 2L, 15000L)))
  }

  test("TTL-configured state is evicted after its duration") {
    val root = Files.createTempDirectory("sv2_ttl")
    val landing = Files.createDirectories(root.resolve("landing"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def drain(expectRows: Int): Seq[(Long, Long, Boolean, Boolean)] = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      def sinkRows(): Seq[(Long, Long, Boolean, Boolean)] =
        try spark.read.parquet(out).as[(Long, Long, Boolean, Boolean)]
          .collect().sortBy(_._2).toSeq
        catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
      try {
        // TTL requires TimeMode.ProcessingTime, under which neither
        // AvailableNow nor processAllAvailable settles (the mode keeps
        // scheduling TTL-sweep batches) — poll the sink for the
        // expected rows, then stop (test-only pattern)
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing.toString)
          .select(col("user_id"), col("event_id"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState[(Long, Long, Boolean, Boolean)](
            new SessionTimeoutSpec.TtlProbe, TimeMode.ProcessingTime(),
            OutputMode.Append())
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
        try {
          val deadline = System.currentTimeMillis() + 90000L
          while (sinkRows().size < expectRows &&
            System.currentTimeMillis() < deadline) Thread.sleep(200L)
        } finally q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      sinkRows()
    }
    ReplayStaging.stage(landing, 0, Seq(
      (1L, ts(0L), 7L, "a", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(drain(1) === Seq((7L, 1L, false, false)),
      "first sight: no prior state")
    // within TTL: the LONG marker must still be there. (The short
    // marker's fate here is wall-clock-dependent — a stream stop →
    // restage → RocksDB restart between drains can exceed 2s on a
    // loaded box — so only the 120s marker, which no plausible restart
    // latency reaches, carries the within-TTL assertion.)
    ReplayStaging.stage(landing, 1, Seq(
      (2L, ts(1000L), 7L, "a", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val second = drain(2)
    assert(second.map(r => (r._1, r._2)) === Seq((7L, 1L), (7L, 2L)))
    assert(second(1)._3, "long-TTL marker must survive within its TTL")
    // past the short TTL (processing-time): the store must have
    // EVICTED the 2s marker while the 120s one persists — proving the
    // eviction was TTL-driven, not a restart losing the store
    Thread.sleep(2500L)
    ReplayStaging.stage(landing, 2, Seq(
      (3L, ts(2000L), 7L, "a", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val third = drain(3)
    assert(third.map(r => (r._1, r._2)) ===
      Seq((7L, 1L), (7L, 2L), (7L, 3L)))
    assert(third(2)._3, "long-TTL marker must still be present")
    assert(!third(2)._4, "TTL-expired state must read as absent")
  }
}

object SessionTimeoutSpec {
  /** Emits (user, event, sawLongTtlState, sawShortTtlState) with a
    * 120-second- and a 2-second-TTL marker — the long one proves state
    * SURVIVES (across stream restarts, immune to restart latency), the
    * short one proves TTLConfig actually EVICTS.
    */
  final class TtlProbe extends StatefulProcessor[Long, (Long, Long), (Long, Long, Boolean, Boolean)] {
    @transient private var seenLong: ValueState[Long] = _
    @transient private var seenShort: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seenLong = getHandle.getValueState[Long]("seenLong", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofSeconds(120)))
      seenShort = getHandle.getValueState[Long]("seenShort", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofSeconds(2)))
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean, Boolean)] = {
      val out = rows.toArray.sortBy(_._2).map { case (u, e) =>
        val hadLong = seenLong.exists()
        val hadShort = seenShort.exists()
        seenLong.update(e)
        seenShort.update(e)
        (u, e, hadLong, hadShort)
      }
      out.iterator
    }
  }
}
