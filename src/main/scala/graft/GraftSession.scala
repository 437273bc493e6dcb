package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main and the test
  * session start from this builder, so they all plan with the same
  * Catalyst rules (TopK-per-key, range-join binning, snapshot DML, all
  * injected by [[functions.GraftExtensions]]) and read timestamps the
  * same way: UTC session time zone, legacy nano-long parquet timestamps
  * kept as longs (`Tables.normalize` converts them) and no TIMESTAMP_NTZ
  * inference. Callers chain app name, warehouse dir etc. on top.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
}
