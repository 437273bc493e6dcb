package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Not a correctness spec: a one-shot throughput probe comparing the
  * V2 per-file batch scan against the V1 join read on the same
  * catalog table (full-scan aggregate + selective band read). Prints
  * timings for BENCH_NOTES; asserts only that both paths agree.
  */
class BatchScanBenchProbeSpec extends SparkSpec {
  test("V2 batch scan vs V1 read throughput probe") {
    spark.conf.set("spark.sql.catalog.snapbench",
      classOf[SnapshotCatalog].getName)
    val root = graft.TempDirs.create("batbench").resolve("log").toString
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    SnapshotLog.append(spark, root, li.repartitionByRange(8,
      org.apache.spark.sql.functions.col("l_orderkey")))
    def time(tag: String)(body: => Any): Double = {
      val t0 = System.nanoTime(); body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"BENCHPROBE $tag $s%.3f"); s
    }
    val full = s"SELECT sum(l_quantity) AS q, sum(l_extendedprice) AS p, " +
      s"count(*) AS n FROM snapbench.`$root`"
    val band = s"SELECT sum(l_quantity) AS q FROM snapbench.`$root` " +
      "WHERE l_orderkey BETWEEN 100000 AND 200000"
    def run(mode: String): (org.apache.spark.sql.Row, org.apache.spark.sql.Row) = {
      spark.conf.set("spark.graft.catalog.batchScan", mode)
      try {
        (1 to 3).foreach(i => time(s"full_$mode$i")(
          spark.sql(full).collect()))
        (1 to 3).foreach(i => time(s"band_$mode$i")(
          spark.sql(band).collect()))
        (spark.sql(full).head(), spark.sql(band).head())
      } finally spark.conf.unset("spark.graft.catalog.batchScan")
    }
    val (f2, b2) = run("true")
    val (f1, b1) = run("false")
    // double sums accumulate in partition order — compare with a
    // relative epsilon; the count must be exact
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.abs(a)
    assert(f1.getLong(2) == f2.getLong(2))
    assert(close(f1.getDouble(0), f2.getDouble(0)))
    assert(close(f1.getDouble(1), f2.getDouble(1)))
    assert(close(b1.getDouble(0), b2.getDouble(0)))
  }
}
