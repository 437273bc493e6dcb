package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** Manifest-level stat BANDS: each file-list reference line carries the
  * list's aggregated per-column min/max, so a narrow read skips whole
  * lists from the snapshot manifest alone — O(matching lists) planning
  * I/O on a many-list table. Proven the hard way: the spec DELETES the
  * non-matching list files (and their data) from disk and the pruned
  * read still answers — they were never opened.
  */
class ManifestBandSpec extends SparkSpec {

  import spark.implicits._

  private def newRoot(): String =
    Files.createTempDirectory("graft_band").resolve("log").toString
  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def textOf(root: String, rel: String): String = {
    val in = fs(root).open(new Path(s"$root/$rel"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Six appends of disjoint 100-key ranges — six lists, six bands. */
  private def seeded(): String = {
    val root = newRoot()
    (0 until 6).foreach { b =>
      SnapshotLog.append(spark, root,
        ((b * 100) until (b * 100 + 100)).map(k => (k.toLong, s"v$k"))
          .toDF("k", "v").coalesce(1))
    }
    root
  }

  /** Delete every file list except those whose files survive `kept`,
    * along with the dropped lists' data files — any later attempt to
    * open them would fail loudly.
    */
  private def dropNonMatching(root: String, kept: Set[String]): Unit = {
    val f = fs(root)
    val mLines = textOf(root, "snap/v00000006.manifest")
      .split('\n').filter(_.startsWith("M\t")).map(_.split('\t')(1))
    mLines.foreach { listRel =>
      val files = textOf(root, listRel).split('\n').filter(_.nonEmpty)
        .map(_.split('\t')(0))
      if (!files.exists(kept)) {
        files.foreach(p => require(f.delete(new Path(s"$root/$p"), false)))
        require(f.delete(new Path(s"$root/$listRel"), false))
      }
    }
  }

  test("every manifest reference line records the list's band") {
    val root = seeded()
    val mLines = textOf(root, "snap/v00000006.manifest")
      .split('\n').filter(_.startsWith("M\t"))
    assert(mLines.length === 6)
    // 6 fields since the column-meta revision: band + list-level meta
    assert(mLines.forall(_.split('\t').length === 6), "band/meta field missing")
    assert(mLines.forall(l => l.split('\t')(4).contains("k%3D")
      || l.split('\t')(4).contains("k=")), s"no k band in: ${mLines.head}")
  }

  test("narrow range read plans one list and survives the others' deletion") {
    val root = seeded()
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("k", Some("250"), Some("299"))))
    assert(kept.size === 1, s"kept ${kept.map(_.path)}")
    dropNonMatching(root, kept.map(_.path).toSet)
    val got = SnapshotLog.readRange(spark, root, "k", Some("250"), Some("299"))
    assert(rowSet(got) ===
      rowSet((250L to 299L).map(k => (k, s"v$k")).toDF("k", "v")))
  }

  test("point read prunes lists by band and survives their deletion") {
    val root = seeded()
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("k", Some("135"), Some("135"))))
    assert(kept.size === 1, s"kept ${kept.map(_.path)}")
    dropNonMatching(root, kept.map(_.path).toSet)
    assert(rowSet(SnapshotLog.readPoint(spark, root, "k", 135L)) ===
      rowSet(Seq((135L, "v135")).toDF("k", "v")))
  }

  test("legacy band-less reference lines are conservatively opened") {
    val root = seeded()
    // strip the band field from every M line (the pre-band manifest)
    val f = fs(root)
    val rel = "snap/v00000006.manifest"
    val rewritten = textOf(root, rel).split('\n').map { l =>
      if (l.startsWith("M\t")) l.split('\t').take(4).mkString("\t") else l
    }.mkString("\n")
    require(f.delete(new Path(s"$root/$rel"), false))
    val out = f.create(new Path(s"$root/$rel"), true)
    try out.write(rewritten.getBytes("UTF-8")) finally out.close()
    // no list-level pruning possible, but file-level stats still prune
    // to one file and the answer is exact
    val kept = SnapshotLog.boxFiles(SnapshotLog.resolve(spark, root),
      Seq(("k", Some("250"), Some("299"))))
    assert(kept.size === 1)
    assert(SnapshotLog.readRange(spark, root, "k", Some("250"), Some("299"))
      .count() === 50L)
  }
}
