package graft.sources

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DateType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The catalog-served V2 transform functions MUST evaluate exactly the
  * writer's routing expressions (SnapshotLog.partExpr) — a partition
  * value Spark computes through the FunctionCatalog can never disagree
  * with a band read off a manifest, or a storage-partitioned join
  * would silently co-locate rows of different partitions. Property
  * pin, the SPJ twin of BucketOfValueSpec.
  */
class SnapshotTransformFunctionSpec extends SparkSpec {

  import spark.implicits._

  // probe instants: epoch, pre-1970 (floor semantics!), mid-day,
  // year+month boundaries, far future
  private val micros: Seq[Long] = Seq(
    0L, 1L, -1L, 123456L, -86400000000L, -86400000001L,
    86399999999L, 86400000000L, 1672531199999999L, 1672531200000000L,
    253402300799000000L, -2208988800000000L)

  private def sqlLongs(exprSql: String): Seq[Long] = {
    micros.map(m => java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plus(
        java.time.Duration.of(m, java.time.temporal.ChronoUnit.MICROS))))
      .toDF("ts").selectExpr(exprSql).as[Long].collect().toSeq
  }

  test("days(ts) matches the writer's datediff routing") {
    val bound = new SnapshotTimeFunction("days").bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", TimestampType))))
      .asInstanceOf[SnapshotTimeBound]
    val expected = sqlLongs(
      "CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') AS BIGINT)")
    micros.zip(expected).foreach { case (m, e) =>
      assert(bound.produceResult(
        new GenericInternalRow(Array[Any](m))).longValue == e,
        s"days($m)")
    }
  }

  test("hours(ts) and months(ts) match the writer's routing") {
    val hours = new SnapshotTimeFunction("hours").bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", TimestampType))))
      .asInstanceOf[SnapshotTimeBound]
    val months = new SnapshotTimeFunction("months").bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", TimestampType))))
      .asInstanceOf[SnapshotTimeBound]
    val expH = sqlLongs("CAST((unix_micros(ts) - pmod(unix_micros(ts), " +
      "3600000000)) / 3600000000 AS BIGINT)")
    val expM = sqlLongs(
      "CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT)")
    micros.zip(expH.zip(expM)).foreach { case (m, (eh, em)) =>
      val row = new GenericInternalRow(Array[Any](m))
      assert(hours.produceResult(row).longValue == eh, s"hours($m)")
      assert(months.produceResult(row).longValue == em, s"months($m)")
    }
  }

  test("days/hours over DATE columns match the date casts") {
    val days = new SnapshotTimeFunction("days").bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d", DateType))))
      .asInstanceOf[SnapshotTimeBound]
    Seq(-400, -1, 0, 1, 19000).foreach { epochDay =>
      assert(days.produceResult(
        new GenericInternalRow(Array[Any](epochDay))).longValue ==
        epochDay.toLong)
    }
  }

  test("trunc matches floor-multiple (numeric) and prefix (string)") {
    val tl = new SnapshotTruncFunction(100).bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", LongType))))
      .asInstanceOf[SnapshotTruncBound]
    Seq(-101L, -100L, -1L, 0L, 1L, 99L, 100L, 101L, 250L).foreach { v =>
      val got = tl.produceResult(new GenericInternalRow(Array[Any](v)))
        .asInstanceOf[java.lang.Long].longValue
      val want = v - (((v % 100) + 100) % 100)
      assert(got == want, s"trunc_100($v): $got != $want")
    }
    val ts = new SnapshotTruncFunction(2).bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", StringType))))
      .asInstanceOf[SnapshotTruncBound]
    Seq("", "a", "abc", "日本語テスト").foreach { s =>
      val got = ts.produceResult(new GenericInternalRow(
        Array[Any](UTF8String.fromString(s)))).toString
      val want = Seq(s).toDF("v").selectExpr("substring(v, 1, 2)")
        .as[String].head()
      assert(got == want, s"trunc_2($s): '$got' != '$want'")
    }
  }
}
