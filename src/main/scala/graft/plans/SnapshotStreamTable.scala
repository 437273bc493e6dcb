package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.graft.DmlBridge

import graft.sources.SnapshotTableV2

/** `spark.readStream.table("snap.t")` — streaming reads through the
  * catalog identifier. The table declares MICRO_BATCH_READ so analysis
  * accepts the streaming relation; this rule then substitutes the V1
  * [[graft.sources.SnapshotChangeProvider]] source for the V2 relation
  * (Delta's exact fallback move): the snapshot-log stream's
  * micro-batches are whole QUERY PLANS — snapshot scans, equality
  * -delete anti-joins — which only the V1 `Source.getBatch` API can return, so
  * a genuine V2 `PartitionReader` door would force row-by-row
  * re-implementation of the MoR read. The substituted relation keeps
  * the V2 node's output attribute ids (a projection re-aliases), so
  * downstream references never dangle.
  *
  * Reader options pass through (`startingSnapshot`,
  * `maxSnapshotsPerTrigger`, `skipChangeCommits`); `mode=changelog` is
  * refused here because its schema differs from the table's — the
  * format door (`readStream.format("snapshot-log")`) serves the CDC
  * feed.
  */
object SnapshotStreamTableRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case s: StreamingRelationV2 if s.table.isInstanceOf[SnapshotTableV2] =>
      val t = s.table.asInstanceOf[SnapshotTableV2]
      require(t.asOf == 0L && t.branch.isEmpty,
        s"streaming reads follow the LIVE table ${t.root}; time-travel " +
          "and branch pins cannot stream")
      val passed = s.extraOptions.asScala.toMap
      require(!passed.get("mode").exists(_.equalsIgnoreCase("changelog")),
        "the changelog feed has extra columns (change, snapshot_id) — " +
          "read it via readStream.format(\"snapshot-log\")" +
          ".option(\"mode\", \"changelog\").load(root)")
      val v1 = DmlBridge.streamingSourceRelation(
        org.apache.spark.sql.SparkSession.active,
        "snapshot-log", passed + ("path" -> t.root))
      // keep the V2 node's attribute ids: whoever already resolved
      // against this relation must keep resolving
      Project(s.output.zip(v1.output).map { case (v2a, v1a) =>
        Alias(v1a, v2a.name)(exprId = v2a.exprId)
      }, v1)

    // `readStream.table("snap.t.changes")` — the LIVE CDC feed through
    // the same identifier the batch changes window reads: substitute
    // the V1 changelog source. The stream carries one extra column the
    // batch table doesn't declare (`snapshot_id` — a live feed is
    // per-commit, a batch window is one diff), so the projection maps
    // the declared columns BY NAME and drops the rest.
    case s: StreamingRelationV2
        if s.table.isInstanceOf[graft.sources.SnapshotMetaTable] &&
          s.table.asInstanceOf[graft.sources.SnapshotMetaTable]
            .kind == "changes" =>
      val t = s.table.asInstanceOf[graft.sources.SnapshotMetaTable]
      val passed = s.extraOptions.asScala.toMap
      require(!passed.get("mode").exists(!_.equalsIgnoreCase("changelog")),
        "snap.t.changes streams the changelog; mode cannot be overridden")
      val v1 = DmlBridge.streamingSourceRelation(
        org.apache.spark.sql.SparkSession.active,
        "snapshot-log",
        passed + ("path" -> t.root) + ("mode" -> "changelog"))
      val byName = v1.output.map(a => a.name -> a).toMap
      Project(s.output.map { v2a =>
        val v1a = byName.getOrElse(v2a.name, throw new IllegalStateException(
          s"changelog stream lacks declared column ${v2a.name}"))
        Alias(v1a, v2a.name)(exprId = v2a.exprId)
      }, v1)
  }
}
