package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.BusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Regression guard for the timestamp-physical-type resilience in
  * `Tables` (the round-8 testdata switched TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS, no UTC flag) and seven queries plan-failed):
  * `normalize` must map every historical shape to plain TimestampType
  * with value-preserving semantics under the UTC session. Also pins the
  * per-session memos behind `Tables`: the inferred schema of `apply`
  * and the split count of `spread`.
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

  /** Spark jobs started while `body` runs. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusFlush.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      BusFlush.flush(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a second read of a table infers nothing: no job, the same schema and rows") {
    val dir = TempDirs.create("tables_memo").toString
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(0, 50)
      .select(col("id"), col("id").cast("string").as("s", tagged),
        lit(1).as("one"))
      .write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsIn(Tables(spark, dir, "t"))
    assert(inferJobs > 0, "the first read infers its schema with a job")
    val (second, jobs) = jobsIn(Tables(spark, dir, "t"))
    assert(jobs === 0, s"the second read ran $jobs jobs")
    assert(second.schema === first.schema)
    assert(second.schema("s").metadata.getString("comment") === "kept")
    assert(rowSet(second) === rowSet(first))
  }

  test("a rewritten table is read with its new schema") {
    val dir = TempDirs.create("tables_rewrite").toString
    spark.range(0, 5).write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq === Seq("id"))
    spark.range(0, 5).withColumn("extra", col("id") * 2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir, "t")
    assert(again.columns.toSeq === Seq("id", "extra"))
    assert(again.agg(sum("extra")).head().getLong(0) === 20L)
  }

  test("a parquet conf that changes inference is part of the memo key") {
    val dir = TempDirs.create("tables_conf").toString
    // an unannotated binary column written without Spark's footer
    // schema, which would otherwise fix the type whatever the conf
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/t.parquet/part-0.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try Seq("x", "y").foreach(v => w.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
    finally w.close()
    def typeWith(binaryAsString: String) =
      withConfs("spark.sql.parquet.binaryAsString" -> binaryAsString)(
        Tables(spark, dir, "t").schema("b").dataType)
    assert(typeWith("false") === BinaryType)
    assert(typeWith("true") === StringType)
    assert(typeWith("false") === BinaryType)
  }

  test("spread's split memo is keyed on the split-packing confs") {
    val dir = TempDirs.create("spread_confs").resolve("t").toString
    // one file of ~100 KB: one split by default, many at 1k splits
    spark.range(0, 4000).select(md5(col("id").cast("string")).as("h"))
      .coalesce(1).write.parquet(dir)
    val n = math.max(4, spark.sessionState.conf.numShufflePartitions / 2)
    // a frame plans its splits once, so each conf state reads afresh
    val t = spark.read.parquet(dir)
    assert(t.rdd.getNumPartitions < n, "fixture must span < n splits by default")
    assert(!(Tables.spread(t) eq t), "a narrow scan is spread")
    withConfs("spark.sql.files.maxPartitionBytes" -> "1k",
        "spark.sql.files.openCostInBytes" -> "1") {
      val wide = spark.read.parquet(dir)
      assert(spark.read.parquet(dir).rdd.getNumPartitions >= n,
        "fixture must span >= n splits at 1k")
      assert(Tables.spread(wide) eq wide,
        "the memo answered with the split count of other confs")
    }
  }
}
