package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.SnapshotLog

/** Rewrites a log's head snapshot into the shape a table committed
  * before a manifest format revision has: file lines and list refs
  * without per-file histograms, and with `meta = true` also without
  * column meta (null counts, NDV sketches). Every commit records both,
  * so a spec that compares a planner with and without them builds its
  * control this way; the read side serves such legacy tables with no
  * answer for what is missing.
  */
object LegacyStats {

  def strip(spark: SparkSession, root: String, meta: Boolean): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def write(p: Path, text: String): Unit = {
      val out = fs.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    // file line: path, rows, stats, blooms, ids, bytes, meta, hist, sortedBy
    def stripLine(l: String): String = {
      val f = l.split('\t')
      if (f.length > 7) f(7) = "-"
      if (meta && f.length > 6) f(6) = "-"
      f.mkString("\t")
    }
    val mp = SnapshotLog.manifestPath(root, SnapshotLog.currentId(spark, root))
    val raw = SnapshotLog.parseManifest(read(mp))
    raw.refs.foreach { r =>
      val lp = new Path(s"$root/${r.path}")
      write(lp, read(lp).split("\n", -1)
        .map(l => if (l.isEmpty) l else stripLine(l)).mkString("\n"))
    }
    write(mp, SnapshotLog.manifestText(raw.copy(
      refs = raw.refs.map(r => if (meta) r.copy(meta = Map.empty) else r),
      inline = raw.inline.map(f =>
        f.copy(hist = Map.empty, meta = if (meta) Map.empty else f.meta)))))
  }
}
