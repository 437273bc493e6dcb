package graft.operators

import graft.{SparkEntry, SparkSpec, TestSpark}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The tt* registry's staged fixtures: every row that stages a log
  * stages its own, whatever ran before it in the session.
  */
class SnapshotLogQueriesSpec extends SparkSpec {

  /** The tt* fixtures' staged dirs under the JVM's temp dir. */
  private def stagedDirs(): Set[Path] =
    Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_staged_tt")).toSet

  test("tt16 then tt38 stage two distinct logs: the SQL WAP door runs") {
    // a source dir no other suite staged from (staging keys digest the
    // dir string): a link to the sf0.001 tables
    val dir = Files.createSymbolicLink(
      Files.createTempDirectory("graft_ttq").resolve("sf"),
      Paths.get(TestSpark.Sf0001)).toString
    def stage(name: String): Seq[Path] = {
      val before = stagedDirs()
      SparkEntry.registry.find(_.name == name).get.stage.get(spark, dir)
      (stagedDirs() -- before).toSeq
    }
    val wap = stage("tt16_wap_publish")
    val sqlWap = stage("tt38_sql_wap")
    assert(wap.size === 1, s"tt16 staged $wap")
    assert(sqlWap.size === 1, s"tt38 staged $sqlWap, after tt16 staged $wap")
    def operations(staged: Path): Seq[String] =
      SnapshotLog.history(spark, staged.resolve("log").toString).map(_.operation)
    assert(operations(wap.head) === Seq("append", "publish-append"))
    assert(operations(sqlWap.head) === Seq("append", "fast-forward=audit"))
  }
}
