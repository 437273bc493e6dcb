package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Not a correctness spec: a one-shot throughput probe of the V2
  * per-file batch scan on a catalog table (full-scan aggregate +
  * selective band read). Prints timings for BENCH_NOTES; asserts only
  * that the scan agrees with the same aggregates over the source frame.
  */
class BatchScanBenchProbeSpec extends SparkSpec {
  test("V2 batch scan throughput probe against the source") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    spark.conf.set("spark.sql.catalog.snapbench",
      classOf[SnapshotCatalog].getName)
    val root = graft.TempDirs.create("batbench").resolve("log").toString
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    SnapshotLog.append(spark, root, li.repartitionByRange(8,
      col("l_orderkey")))
    def time(tag: String)(body: => Any): Double = {
      val t0 = System.nanoTime(); body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"BENCHPROBE $tag $s%.3f"); s
    }
    val full = s"SELECT sum(l_quantity) AS q, sum(l_extendedprice) AS p, " +
      s"count(*) AS n FROM snapbench.`$root`"
    val band = s"SELECT sum(l_quantity) AS q FROM snapbench.`$root` " +
      "WHERE l_orderkey BETWEEN 100000 AND 200000"
    (1 to 3).foreach(i => time(s"full_$i")(spark.sql(full).collect()))
    (1 to 3).foreach(i => time(s"band_$i")(spark.sql(band).collect()))
    val (f2, b2) = (spark.sql(full).head(), spark.sql(band).head())
    val f1 = li.agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
      .head()
    val b1 = li.filter(col("l_orderkey").between(100000, 200000))
      .agg(sum("l_quantity")).head()
    // double sums accumulate in partition order — compare with a
    // relative epsilon; the count must be exact
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.abs(a)
    assert(f1.getLong(2) == f2.getLong(2))
    assert(close(f1.getDouble(0), f2.getDouble(0)))
    assert(close(f1.getDouble(1), f2.getDouble(1)))
    assert(close(b1.getDouble(0), b2.getDouble(0)))
  }
}
