package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec, TempDirs, TestSpark}
import graft.operators.SnapshotLog

/** The library read and the SQL read plan the same batch scan, so they
  * return the same rows on every log the tt* registry stages — and a
  * library read, like the SQL one, is planned from the manifest alone.
  */
class SnapshotReadParitySpec extends SparkSpec {

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.snappar", classOf[SnapshotCatalog].getName)
    "snappar"
  }

  /** Every log (a dir holding `snap/`) staged from `dir`. */
  private def stagedLogs(dir: String): Seq[String] = {
    val suffix = s"_${TempDirs.dirKey(dir)}"
    Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_staged_tt") && n.endsWith(suffix)
      }
      .flatMap(p => Files.walk(p, 2).iterator().asScala
        .filter(d => Files.isDirectory(d.resolve("snap"))))
      .map((p: Path) => p.toString).toSeq.sorted
  }

  test("library and SQL reads of every staged tt* log's head return the same rows") {
    val dir = TestSpark.Sf0001
    SparkEntry.registry.filter(_.name.startsWith("tt"))
      .flatMap(_.stage).foreach(_(spark, dir))
    val logs = stagedLogs(dir).filter(SnapshotLog.currentId(spark, _) > 0L)
    assert(logs.size > 40, s"staged logs: $logs")
    val kinds = logs.flatMap { root =>
      val head = SnapshotLog.resolve(spark, root)
      val lib = SnapshotLog.read(spark, root)
      val sql = spark.sql(s"SELECT * FROM $cat.`$root`")
      assert(lib.schema.fieldNames.toSeq === sql.schema.fieldNames.toSeq, root)
      assert(rowSet(lib) === rowSet(sql), root)
      val ops = SnapshotLog.history(spark, root).map(_.operation).toSet
      Seq(
        Some("positional deletes").filter(_ => head.dvByTarget.nonEmpty),
        Some("equality deletes").filter(_ => head.eqOutstanding),
        Some("rename").filter(_ => ops("rename")),
        Some("widen").filter(_ => ops("widen"))).flatten
    }.toSet
    assert(kinds === Set("positional deletes", "equality deletes", "rename",
      "widen"))
  }

  test("building a library read of a 256-file snapshot runs no job") {
    val root = TempDirs.create("parity_wide").resolve("log").toString
    SnapshotLog.append(spark, root,
      spark.range(0, 2560).withColumnRenamed("id", "k").repartition(256))
    assert(SnapshotLog.resolve(spark, root).files.size === 256)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("parity-build", "build a library read")
      val df = SnapshotLog.read(spark, root).filter(col("k") === 3L)
      df.queryExecution.executedPlan
      // a barrier job: listener events arrive in order, so once its
      // start is seen every job the build ran has been seen too
      sc.setJobGroup("parity-barrier", "barrier")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("parity-barrier") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("parity-barrier"))
      assert(!groups.contains("parity-build"), groups)
      assert(df.collect().map(_.getLong(0)).toSeq === Seq(3L))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
