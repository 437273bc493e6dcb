package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDateTime

/** Regression guard for the timestamp-physical-type resilience in
  * `Tables` (the round-8 testdata switched TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS, no UTC flag) and seven queries plan-failed):
  * `normalize` must map every historical shape to plain TimestampType
  * with value-preserving semantics under the UTC session.
  */
class TablesNormalizeSpec extends SparkSpec {

  test("TIMESTAMP_NTZ columns cast to TimestampType, values preserved as UTC instants") {
    import spark.implicits._
    val ntz = Seq(
      (1L, LocalDateTime.of(2024, 3, 1, 12, 30, 45, 123456000)),
      (2L, LocalDateTime.of(1999, 12, 31, 23, 59, 59, 0)))
      .toDF("id", "ts")
    assert(ntz.schema("ts").dataType === TimestampNTZType)

    val out = Tables.normalize(ntz)
    assert(out.schema("ts").dataType === TimestampType)
    val micros = out.select(unix_micros(col("ts"))).as[Long].collect().sorted
    // UTC wall time == instant under the UTC session zone
    assert(micros === Array(
      java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L,
      java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 45)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 123456L).sorted)
  }

  test("legacy nano-long ts column becomes micro-truncated TimestampType") {
    import spark.implicits._
    val nanos = Seq((1L, 1704067200123456789L)).toDF("id", "ts") // ns epoch
    val out = Tables.normalize(nanos)
    assert(out.schema("ts").dataType === TimestampType)
    val micros = out.select(unix_micros(col("ts"))).as[Long].head()
    assert(micros === 1704067200123456L) // DIV 1000, DuckDB's narrowing
  }

  test("frames without timestamp-like columns pass through unchanged") {
    import spark.implicits._
    val plain = Seq((1L, "a")).toDF("id", "s")
    assert(Tables.normalize(plain).schema === plain.schema)
  }

  test("the real testdata reads with TimestampType at the scan (no cast above it)") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType === TimestampType)
    // unix_micros compiles and evaluates — the r7 failure shape
    assert(ev.select(unix_micros(col("ts"))).limit(1).count() === 1L)
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    assert(orders.schema("o_orderdate").dataType === TimestampType)
  }

  test("spread's split memo serves near-scan frames only; a coalesced frame is re-probed") {
    val dir = TempDirs.create("spread").resolve("t").toString
    spark.range(0, 4000).repartition(8).write.parquet(dir)
    // small splits so the table spans more splits than spread's width
    val confs = Seq("spark.sql.files.maxPartitionBytes" -> "1k",
      "spark.sql.files.openCostInBytes" -> "1")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = spark.read.parquet(dir)
      val n = math.max(4, spark.sessionState.conf.numShufflePartitions / 2)
      assert(t.rdd.getNumPartitions >= n, "fixture must span >= n splits")
      assert(Tables.spread(t) eq t, "a wide scan is left as is")
      // same file set, different partitioning: the memo must not answer
      assert(Tables.spread(t.coalesce(1)).rdd.getNumPartitions == n)
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
