package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The Z-order layout contract: content is bit-preserved across the
  * rewrite, a two-column box read stays correct on ANY layout, and —
  * the reason the layout exists — the Morton clustering makes the box
  * read open STRICTLY fewer files than single-column clustering of the
  * same data, because each z-file bounds BOTH columns.
  */
class ZOrderSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot() =
    Files.createTempDirectory("graft_zorder").resolve("log").toString

  // 64x64 uniform grid — every (x, y) cell once, appended round-robin
  // so pre-optimize files span both full ranges
  private def grid = (0 until 4096)
    .map(i => (i.toLong, (i / 64).toLong, (i % 64).toLong))
    .toDF("id", "x", "y")

  private val box = Seq(
    ("x", Some("20"), Some("39")),
    ("y", Some("20"), Some("39")))

  test("z-order rewrite preserves content exactly and commits no row changes") {
    val root = newRoot()
    SnapshotLog.append(spark, root, grid.repartition(4))
    val base = SnapshotLog.currentId(spark, root)
    val zId = SnapshotLog.optimizeZOrder(spark, root, "x", "y", numFiles = 16)
    assert(SnapshotLog.read(spark, root).orderBy("id").collect().toSeq ===
      grid.orderBy("id").collect().toSeq)
    assert(SnapshotLog.changes(spark, root, base, zId).isEmpty)
  }

  test("box read is correct on the unclustered layout (prunes nothing, answers right)") {
    val root = newRoot()
    SnapshotLog.append(spark, root, grid.repartition(4))
    val got = SnapshotLog.readBox(spark, root, box)
      .orderBy("id").select("id").as[Long].collect().toSeq
    val want = grid.filter(col("x").between(20, 39) && col("y").between(20, 39))
      .orderBy("id").select("id").as[Long].collect().toSeq
    assert(got === want)
  }

  test("a two-column box opens strictly fewer files under z-order than single-column clustering") {
    val zRoot = newRoot()
    SnapshotLog.append(spark, zRoot, grid.repartition(4))
    SnapshotLog.optimizeZOrder(spark, zRoot, "x", "y", numFiles = 16)

    val xRoot = newRoot()
    SnapshotLog.append(spark, xRoot, grid.repartition(4))
    SnapshotLog.optimize(spark, xRoot, clusterBy = "x", numFiles = 16)

    // wide in x, narrow in y: the x-clustered layout keeps every slab
    // the 48-wide x-range touches (~12 of 16) and cannot prune on y at
    // all; the 4x4 Morton tiling keeps all four x-tile columns but
    // only the one y-tile row the 8-wide y-band overlaps (~4 files,
    // ±range-sampling boundary straddle)
    val wideBox = Seq(
      ("x", Some("8"), Some("55")),
      ("y", Some("20"), Some("27")))
    val zKept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, zRoot), wideBox).size
    val xKept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, xRoot), wideBox).size
    // strict win with a wide margin (~4 Morton tiles vs ~12 x-slabs);
    // the absolute bound stays loose because RangePartitioner's sampled
    // boundaries can straddle tile edges and bloat a file's box
    assert(zKept < xKept,
      s"z-order kept $zKept files, single-column kept $xKept")
    assert(zKept <= 12)

    // identical answers on both layouts
    val zGot = SnapshotLog.readBox(spark, zRoot, wideBox)
      .orderBy("id").select("id").as[Long].collect().toSeq
    val xGot = SnapshotLog.readBox(spark, xRoot, wideBox)
      .orderBy("id").select("id").as[Long].collect().toSeq
    assert(zGot === xGot)
    assert(zGot.size === 48 * 8)
  }

  test("null keys survive the rewrite (null-safe grade joins)") {
    val root = newRoot()
    val df = Seq((1L, Option(1L), Option(2L)), (2L, None, Option(3L)),
      (3L, Option(4L), None), (4L, None, None))
      .toDF("id", "x", "y")
    SnapshotLog.append(spark, root, df.repartition(2))
    SnapshotLog.optimizeZOrder(spark, root, "x", "y", numFiles = 2)
    assert(SnapshotLog.read(spark, root).orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }

  test("degenerate axis (constant column) degrades to fewer quanta, stays correct") {
    val root = newRoot()
    val flat = (0 until 256).map(i => (i.toLong, i.toLong, 7L)).toDF("id", "x", "y")
    SnapshotLog.append(spark, root, flat.repartition(3))
    SnapshotLog.optimizeZOrder(spark, root, "x", "y", numFiles = 4)
    val got = SnapshotLog.readBox(spark, root,
        Seq(("x", Some("100"), Some("199")), ("y", Some("0"), Some("10"))))
      .orderBy("id").select("id").as[Long].collect().toSeq
    assert(got === (100L to 199L).toSeq)
  }
}
