package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Static discipline checks over the production sources: the rules that
  * keep operators distributed stay enforced, not just remembered.
  */
class CodeDisciplineSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p)))
      .toSeq

  test("no driver-side row collection in any operator/query path") {
    val offenders = mainSources.collect {
      case (path, src) if src.contains(".collect()") || src.contains("toLocalIterator") =>
        path
    }
    assert(offenders.isEmpty, s"driver-side collection in: $offenders")
  }

  test("no Scala UDFs — custom logic is Catalyst expressions only") {
    val offenders = mainSources.collect {
      case (path, src) if src.contains("functions.udf(") || src.contains(" udf(") =>
        path
    }
    assert(offenders.isEmpty, s"udf() used in: $offenders")
  }

  test("plan rules reach a session only through GraftSession's extensions") {
    val hooks = mainSources.collect {
      case (path, src) if src.contains("spark.experimental.extra") => path
    }
    assert(hooks.isEmpty, s"session-global optimizer hooks in: $hooks")
    val builders = mainSources.collect {
      case (path, src) if src.contains("SparkSession.builder(") => Paths.get(path).getFileName.toString
    }
    assert(builders === Seq("GraftSession.scala"), "SparkSession built outside GraftSession")
  }

  test("snapshot-log commits publish through one writer and one manifest renderer") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/operators/SnapshotLog.scala")))
    def count(re: String): Int = re.r.findAllIn(src).size
    def literal(s: String): Int = count(java.util.regex.Pattern.quote(s))
    // one function names the tmp file and calls the no-replace publish
    assert(literal(".tmp.${") === 1, "tmp files for a publish named in more than one place")
    assert(count("""(?<!def )\bpublish\(""") === 1, "publish called outside the one publisher")
    // the header (`…<TAB>ddl<TAB>ids<TAB>lastColId`) is rendered once,
    // in manifestText; commit time is stamped only by the publisher
    assert(count("""\\t\$\{idsField\([^)]*\)\}\\t\$\{?[\w.]*[lL]ast""") === 1,
      "a manifest header rendered outside manifestText")
    assert(literal("commitTimeLine") === 0)
    assert(literal("""toDDL.replace("\t", " ")""") === 1)
  }

  test("snapshot-log data files have one writer") {
    val opens = mainSources.flatMap { case (path, src) =>
      """ParquetWriteBridge\s*\.open\(""".r.findAllIn(src).map(_ => path) }
    assert(opens.map(p => Paths.get(p).getFileName.toString) ===
      Seq("SnapshotFileWriter.scala"), "a parquet writer opened outside the one writer")
    val log = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/operators/SnapshotLog.scala")))
    assert(!log.contains("__fan"), "fanout helper columns are back")
    assert(!log.contains(".partitionBy("), "a Spark-writer partitioned branch is back")
  }

  test("snapshot data has one reader") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/operators/SnapshotLog.scala")))
    assert(!src.contains("_metadata"), "a parquet _metadata column read is back")
    assert(!src.contains("resolvedRead"), "the second read path is back")
    val members = """(?m)^  (?:private(?:\[\w+\])? |final )*(?:def|class) (\w+)""".r
      .findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    def membersUsing(re: String): Set[String] =
      re.r.findAllMatchIn(src).map(m => members.takeWhile(_._1 < m.start).last._2).toSet
    // the parquet reads left read delete-vector dirs (writeDeleteVector,
    // morCommit, changes), equality-delete key sets (eqJoin,
    // eqPruneKeeps), or the files a commit just wrote (describeFiles,
    // the only schema-pinned read: the writer knows the schema, and
    // inferring it would run a job per commit)
    assert(membersUsing("""\bspark\.read\b""") === Set("writeDeleteVector",
      "morCommit", "changes", "eqJoin", "eqPruneKeeps", "describeFiles"),
      "snapshot data read outside the one scan")
    assert(membersUsing("""\.read\.schema\(""") === Set("describeFiles"),
      "a schema-pinned parquet read outside describeFiles")
  }

  test("snapshot-log commits plan from the read side's one resolved head") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/operators/SnapshotLog.scala")))
    // the object member (two-space indent) each occurrence sits in
    val members = """(?m)^  (?:private(?:\[\w+\])? |final )*(?:def|class) (\w+)""".r
      .findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    def membersUsing(re: String): Set[String] =
      re.r.findAllMatchIn(src).map(m => members.takeWhile(_._1 < m.start).last._2).toSet
    // a manifest parse outside `resolve` is one of the history walkers
    assert(membersUsing("""(?<!def )\brawManifest\(""") ===
      Set("resolve", "publishStaged", "discardStaged", "expire", "vacuumOrphans"),
      "a commit parses its base outside resolve")
    assert(membersUsing(java.util.regex.Pattern.quote(
      "StructType.fromDDL(raw.schemaDdl)")) === Set("Resolved"),
      "a manifest schema parsed outside Resolved")
    assert(membersUsing("""new Resolved\(""") === Set("resolve"),
      "a Resolved built outside resolve")
  }

  test("the engine reads only the spark.graft confs a registry row sets") {
    // a literal key, or the literal head of an interpolated one
    val key = """"spark\.graft\.([A-Za-z.]+)["$]""".r
    val keys = mainSources.flatMap { case (_, src) =>
      key.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(keys === Set("write.fanout", "catalog.preserveGrouping", "wap.branch"))
    val explainWrite = mainSources.collect {
      case (path, src) if src.contains("SPARK_GRAFT_EXPLAIN_WRITE") => path
    }
    assert(explainWrite.isEmpty, s"SPARK_GRAFT_EXPLAIN_WRITE read in: $explainWrite")
  }

  test("every registered query has a DuckDB oracle") {
    val missing = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }

  test("query names are unique and stable-keyed") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")))
  }

  test("staged-dir keys are distinct; the tt* registry lives apart from the table format") {
    def source(file: String) =
      new String(Files.readAllBytes(Paths.get(s"src/main/scala/graft/operators/$file")))
    val queries = source("SnapshotLogQueries.scala")
    // literal key prefixes of every TempDirs.staged call, plus the keys
    // the tt* fixtures claim through their one staging call
    val staged = """TempDirs\.staged\(s?"([a-z0-9]+)_""".r
    val fixtures = """\b(?:log|pair)\("(\w+)"""".r
    val keys = mainSources.flatMap { case (_, src) =>
      staged.findAllMatchIn(src).map(_.group(1)) } ++
      fixtures.findAllMatchIn(queries).map(_.group(1))
    assert(keys.size > 60, s"too few staging keys found: $keys")
    assert(keys.diff(keys.distinct).isEmpty,
      s"staging keys taken twice: ${keys.diff(keys.distinct).distinct}")
    val log = source("SnapshotLog.scala")
    assert(!log.contains("TempDirs.staged"), "SnapshotLog stages a fixture")
    assert("""\bQ\(""".r.findFirstIn(log).isEmpty, "SnapshotLog builds a registry row")
    assert(java.util.regex.Pattern.quote("\"spark.sql.catalog.snapcat\"").r
      .findAllIn(queries).size === 1,
      "the snapshot catalog is registered in more than one place")
  }
}
