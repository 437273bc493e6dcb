package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graft.DmlBridge
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types.StructType

import graft.operators.SnapshotLog
import graft.sources.SnapshotTableV2

/** SQL row-level DML over snapshot-log tables: `MERGE INTO` and
  * `UPDATE` statements whose target resolves through
  * [[graft.sources.SnapshotCatalog]] rewrite — Delta Lake's technique,
  * an injected resolution rule — into runnable commands that execute
  * the library's MERGE-ON-READ commit protocol
  * ([[SnapshotLog.morCommit]], the same primitive `mergeIntoMoR`
  * commits through): matched rows die via ONE positional delete
  * vector, every surviving output row appends as new data files, and
  * both land in one atomic manifest publish. Zero pre-existing data
  * files are read back or rewritten — the write cost that keeps a
  * continuous SQL upsert stream viable at 100 TB, where a
  * copy-on-write MERGE would rewrite every hot file per batch.
  *
  * Supported arm matrix (full first-match-wins semantics, conditions
  * included): WHEN MATCHED [AND c] THEN UPDATE SET …|DELETE, WHEN NOT
  * MATCHED [AND c] THEN INSERT …, WHEN NOT MATCHED BY SOURCE [AND c]
  * THEN UPDATE SET …|DELETE. The standard cardinality rule is
  * enforced: a target row matching more than one source row fails
  * loudly (an ambiguous upsert must never apply twice).
  *
  * Scale shape: discovery is ONE join between the MoR-resolved target
  * (with (file, position) coordinates) and the statement's source —
  * Catalyst plans it (broadcast when the source is small, shuffle
  * otherwise), and the join output is persisted spill-safely so the
  * delete-vector write, each arm's projection, and the cardinality
  * check reuse one materialization instead of re-running the join.
  * With matched/not-matched arms only, that output is O(matched +
  * source), never O(table); BY SOURCE arms inherently need the outer
  * side. Reference anchor: the reference's warehouse is SQL-maintained
  * (bigquery_loader_function/main.py:36-45) — this closes the same
  * upsert gap for the snapshot-log format.
  */
object SnapshotDmlRule extends Rule[LogicalPlan] {

  @scala.annotation.tailrec
  private def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => unwrap(child)
    case p => p
  }

  private def snapshotTable(plan: LogicalPlan): Option[SnapshotTableV2] =
    unwrap(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case t: SnapshotTableV2 => Some(t)
        case _ => None
      }
      case _ => None
    }

  /** Under write-audit-publish (`spark.graft.wap.branch`), row-level
    * DML routes to the BRANCH: the target either already resolved to
    * the WAP branch head (the session's reads pin it) or is the plain
    * main table of a session whose conf names a branch not yet forked
    * — both stage on the branch, invisible to main until publish.
    * Returns the branch name to stage on, or None for a main-line
    * commit. A branch pin that does NOT match the session's WAP
    * branch (explicit `VERSION AS OF '<other>'`) stays refused.
    */
  private def wapTarget(t: SnapshotTableV2): Option[String] = {
    val conf = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.wap.branch").map(_.trim).filter(_.nonEmpty)
    conf.filter(b => t.asOf == 0L && t.branch.forall(_._1 == b))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // `… WITH SCHEMA EVOLUTION`: while additive changes are still
    // pending, leave the node untouched so Spark's own
    // ResolveMergeIntoSchemaEvolution — admitted by the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability, matching on exactly this
    // evaluateSchemaEvolution && changes.nonEmpty condition — widens
    // the target through SnapshotCatalog.alterTable (the library's
    // metadata-only addColumn commit) first; the next analyzer
    // iteration sees the evolved, fully-resolved merge here (changes
    // now empty: the target already holds every source column).
    case m: MergeIntoTable if m.resolved &&
        !(m.evaluateSchemaEvolution && m.changesForSchemaEvolution.nonEmpty) &&
        snapshotTable(m.targetTable).isDefined =>
      val t = snapshotTable(m.targetTable).get
      val wap = wapTarget(t)
      require(wap.isDefined || (t.asOf == 0L && t.branch.isEmpty),
        s"cannot MERGE into a pinned read of ${t.root}: history is immutable")
      MergeSnapshotCommand(t.root, m.targetTable, m.sourceTable,
        ExprEnvelope(m.mergeCondition),
        m.matchedActions.map(MergeArmEnvelope),
        m.notMatchedActions.map(MergeArmEnvelope),
        m.notMatchedBySourceActions.map(MergeArmEnvelope), wap)
    case u: UpdateTable if u.resolved && snapshotTable(u.table).isDefined =>
      val t = snapshotTable(u.table).get
      val wapU = wapTarget(t)
      require(wapU.isDefined || (t.asOf == 0L && t.branch.isEmpty),
        s"cannot UPDATE a pinned read of ${t.root}: history is immutable")
      // correlated subqueries (WHERE and SET alike) are admitted: the
      // run-time binder rebinds their outer references onto the MoR
      // discovery frame and Catalyst decorrelates them into joins
      UpdateSnapshotCommand(t.root, u.table,
        u.assignments.map(a => AssignmentEnvelope(a.key, a.value)),
        u.condition.map(ExprEnvelope), wapU)
    case d: DeleteFromTable if d.resolved &&
        snapshotTable(d.table).isDefined =>
      val t = snapshotTable(d.table).get
      val wapD = wapTarget(t)
      require(wapD.isDefined || (t.asOf == 0L && t.branch.isEmpty),
        s"cannot DELETE from a pinned read of ${t.root}: history is immutable")
      // subquery predicates — uncorrelated AND correlated — route
      // through the MoR delete below: the binder rebinds outer
      // references onto the discovery frame and the (correlated)
      // subquery decorrelates into the semi/anti-join it really is
      DeleteSnapshotCommand(t.root, d.table, ExprEnvelope(d.condition), wapD)
  }
}

/** Opaque expression envelope: keeps an analyzed condition OUT of the
  * owning command's reflected expression set. CheckAnalysis rejects
  * IN/EXISTS subqueries under any node it does not recognize as a
  * DELETE/UPDATE/MERGE command — but the subquery's legality was
  * already validated on the ORIGINAL statement node before the
  * rewrite, and at run time it evaluates inside an ordinary `Filter`
  * (a supported context). The envelope is a plain product member, so
  * `QueryPlan.expressions` never sees the subquery.
  */
final case class ExprEnvelope(e: Expression)

/** [[ExprEnvelope]] for an UPDATE assignment pair. */
final case class AssignmentEnvelope(key: Expression, value: Expression)

/** [[ExprEnvelope]] for a whole MERGE arm: keeps the action's
  * condition (which may hold a CORRELATED subquery — `WHEN MATCHED AND
  * EXISTS(… = t.k)`) out of the command's reflected expression set for
  * the same reason. At run time the binder rebinds the subquery's
  * outer references onto the discovery frames and it decorrelates
  * inside an ordinary Filter.
  */
final case class MergeArmEnvelope(action: MergeAction)

/** `MERGE INTO snap.t …` — executes [[SnapshotDml.runMerge]]. The
  * analyzed target/source subtrees and action expressions ride along
  * as fields (not children): they are fully resolved, and the command
  * re-binds them against its own discovery frames at run time.
  */
final case class MergeSnapshotCommand(root: String,
    target: LogicalPlan, source: LogicalPlan, cond: ExprEnvelope,
    matched: Seq[MergeArmEnvelope], notMatched: Seq[MergeArmEnvelope],
    bySource: Seq[MergeArmEnvelope],
    wapBranch: Option[String] = None) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotDml.runMerge(spark, root, target, source, cond.e,
      matched.map(_.action), notMatched.map(_.action),
      bySource.map(_.action), wapBranch)
    Seq.empty
  }
}

/** `DELETE FROM snap.t WHERE …` with ANY row-level predicate —
  * lifting the exact-translation restriction the plain SupportsDelete
  * door has (that door remains the fallback for sessions without the
  * graft extensions). Plain predicates execute as the library's
  * copy-on-write [[SnapshotLog.deleteWhere]] (only match-bearing
  * files rewritten), or the MoR delete while vectors are outstanding;
  * UNCORRELATED subquery predicates take the MoR discovery route
  * (the subquery evaluates as a semi-join); under WAP the delete
  * stages on the session's branch.
  */
final case class DeleteSnapshotCommand(root: String, table: LogicalPlan,
    cond: ExprEnvelope,
    wapBranch: Option[String] = None) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotDml.runDelete(spark, root, table, cond.e, wapBranch)
    Seq.empty
  }
}

/** `UPDATE snap.t SET … WHERE …` — executes [[SnapshotDml.runUpdate]]. */
final case class UpdateSnapshotCommand(root: String, table: LogicalPlan,
    assignments: Seq[AssignmentEnvelope], cond: Option[ExprEnvelope],
    wapBranch: Option[String] = None) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotDml.runUpdate(spark, root, table,
      assignments.map(a => Assignment(a.key, a.value)), cond.map(_.e),
      wapBranch)
    Seq.empty
  }
}

private[plans] object SnapshotDml {

  /** Discovery view for a row-level command, with the head it reads:
    * the MAIN head, or — under write-audit-publish — the session's WAP
    * branch head (auto-forked at the current head on first use,
    * exactly like the WAP INSERT door). The head is what the command's
    * commit plans from ([[commitMor]]).
    */
  private def discover(spark: SparkSession, root: String,
      wap: Option[String],
      preds: Seq[(String, Option[String], Option[String])])
      : (SnapshotLog.Resolved, DataFrame) = {
    val head = wap match {
      case Some(b) =>
        if (!SnapshotLog.branchExists(spark, root, b))
          SnapshotLog.createBranch(spark, root, b)
        // the branch commit count k is the CAS the branch MoR commit fires at
        SnapshotLog.resolve(spark, root,
          branch = Some((b, SnapshotLog.branchPin(spark, root, b))))
      case None => SnapshotLog.resolve(spark, root)
    }
    (head, SnapshotLog.readPosForDml(spark, head, preds))
  }

  /** The matching commit door: main MoR commit (validate-and-retry) or
    * the branch MoR commit (single-writer staging, loud on races).
    */
  private def commitMor(spark: SparkSession, head: SnapshotLog.Resolved,
      dead: Option[DataFrame], adds: DataFrame, operation: String): Unit = {
    if (head.branch.isDefined)
      SnapshotLog.morCommitBranch(spark, head, dead, adds, operation)
    else SnapshotLog.morCommit(spark, head, dead, adds, operation)
    ()
  }

  /** Re-bind a statement expression against the run-time frames: every
    * attribute the analyzer resolved to the statement's target
    * relation is substituted by the SAME-NAMED attribute of the MoR
    * discovery frame (fresh ids), source attributes by the source
    * frame's (identity — the source plan is reused, ids preserved).
    *
    * The rewrite DESCENDS INTO SUBQUERY PLANS: a correlated
    * EXISTS/IN/scalar subquery holds `OuterReference(attr)` nodes
    * whose attrs resolved to the statement's target — rebinding them
    * to the discovery frame turns the condition into an ordinary
    * correlated-subquery Filter/Project over that frame, which
    * Catalyst's own decorrelation (PullupCorrelatedPredicates /
    * RewritePredicateSubquery / RewriteCorrelatedScalarSubquery) then
    * plans as the semi/anti/left join it really is. The engine never
    * evaluates correlation row-at-a-time — `DELETE … WHERE EXISTS
    * (… s.k = t.k)` runs as one join against the coordinate frame.
    */
  private def binder(stmtSides: Seq[(LogicalPlan, Map[String, Attribute])])
      : Expression => Column = { e =>
    def look(a: AttributeReference): Option[Attribute] =
      stmtSides.collectFirst {
        case (side, byName) if side.outputSet.contains(a) =>
          byName.getOrElse(a.name, throw new IllegalStateException(
            s"merge rebind lost column ${a.name}"))
      }
    lazy val pf: PartialFunction[Expression, Expression] = {
      case a: AttributeReference => look(a).getOrElse(a)
      // OuterReference is a LEAF expression (its wrapped attribute is
      // a field, not a child) — without this case the transform would
      // rebind the subquery's outerAttrs but leave the in-plan
      // `outer(attr)` pointing at the dead statement relation
      case o @ org.apache.spark.sql.catalyst.expressions
          .OuterReference(a: AttributeReference) =>
        look(a).map(org.apache.spark.sql.catalyst.expressions
          .OuterReference(_)).getOrElse(o)
      case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        // inner-plan rewrite first; the outer transform then continues
        // into the node's own children (outerAttrs), rebinding those
        // through the AttributeReference case
        sq.withNewPlan(sq.plan.transformAllExpressions(pf))
    }
    DmlBridge.column(e.transform(pf))
  }

  private def outputsByName(df: DataFrame): Map[String, Attribute] =
    DmlBridge.analyzed(df).output.map(a => a.name -> a).toMap

  /** Top-level AND conjuncts of an expression. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** `t.col = s.col` equi-pairs in the merge condition — the discovery
    * pruning handles: every target row a matched/not-matched arm can
    * touch carries a source value in each paired column, so the
    * SOURCE's min/max of the pair bounds the target files worth
    * opening.
    */
  private def equiPairs(cond: Expression, tgtSet: Expression => Boolean,
      srcSet: Expression => Boolean): Seq[(String, String)] =
    conjuncts(cond).flatMap {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: AttributeReference, b: AttributeReference)
          if tgtSet(a) && srcSet(b) => Some((a.name, b.name))
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: AttributeReference, b: AttributeReference)
          if tgtSet(b) && srcSet(a) => Some((b.name, a.name))
      case _ => None
    }

  /** Literal comparison conjuncts on TARGET columns → (col, lo, hi)
    * stat boxes — the same translation the catalog scan applies to
    * pushed filters, here over the raw Catalyst condition. Only
    * shrinks the discovery scan; rows are still filtered exactly.
    *
    * Operands are accepted when FOLDABLE, not just when already plain
    * literals: the analyzer's type coercion wraps `k >= 305` in
    * `Cast(305 AS BIGINT)`, and since the statement expressions ride
    * inside [[ExprEnvelope]]s the optimizer never constant-folds them
    * — evaluating foldables here is what keeps the box pruning alive
    * (and renders the bound in the COMPARISON type, which is what the
    * stat bands compare in).
    */
  private def literalBoxes(cond: Expression,
      tgtSet: Expression => Boolean)
      : Seq[(String, Option[String], Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def r(e: Expression): Option[String] =
      if (!e.foldable ||
          e.exists(_.isInstanceOf[SubqueryExpression])) None
      else graft.sources.SnapshotCatalog.render(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(e.eval(), e.dataType))
    conjuncts(cond).flatMap {
      case EqualTo(a: AttributeReference, l) if tgtSet(a) =>
        r(l).map(v => (a.name, Some(v), Some(v)))
      case EqualTo(l, a: AttributeReference) if tgtSet(a) =>
        r(l).map(v => (a.name, Some(v), Some(v)))
      case GreaterThan(a: AttributeReference, l) if tgtSet(a) =>
        r(l).map(v => (a.name, Some(v), None))
      case GreaterThanOrEqual(a: AttributeReference, l) if tgtSet(a) =>
        r(l).map(v => (a.name, Some(v), None))
      case LessThan(a: AttributeReference, l) if tgtSet(a) =>
        r(l).map(v => (a.name, None, Some(v)))
      case LessThanOrEqual(a: AttributeReference, l) if tgtSet(a) =>
        r(l).map(v => (a.name, None, Some(v)))
      case GreaterThan(l, a: AttributeReference) if tgtSet(a) =>
        r(l).map(v => (a.name, None, Some(v)))
      case GreaterThanOrEqual(l, a: AttributeReference) if tgtSet(a) =>
        r(l).map(v => (a.name, None, Some(v)))
      case LessThan(l, a: AttributeReference) if tgtSet(a) =>
        r(l).map(v => (a.name, Some(v), None))
      case LessThanOrEqual(l, a: AttributeReference) if tgtSet(a) =>
        r(l).map(v => (a.name, Some(v), None))
      case _ => Seq.empty
    }
  }

  /** The discovery-pruning boxes for a MERGE: the source's min/max per
    * equi-paired column (ONE bounded aggregation over the source)
    * plus any literal boxes on target columns — valid only when no BY
    * SOURCE arm exists (those need every target row). A file whose
    * band can hold a matching key always intersects the source's
    * range, so pruning is conservative by construction.
    */
  private def mergePruning(src: DataFrame, cond: Expression,
      target: LogicalPlan, source: LogicalPlan,
      bySource: Seq[MergeAction])
      : Seq[(String, Option[String], Option[String])] = {
    if (bySource.nonEmpty) return Seq.empty
    val tgtSet = (e: Expression) => e match {
      case a: AttributeReference => target.outputSet.contains(a)
      case _ => false
    }
    val srcSet = (e: Expression) => e match {
      case a: AttributeReference => source.outputSet.contains(a)
      case _ => false
    }
    val pairs = equiPairs(cond, tgtSet, srcSet)
    val ranges =
      if (pairs.isEmpty) Seq.empty
      else {
        import org.apache.spark.sql.functions.{max, min}
        val aggs = pairs.zipWithIndex.flatMap { case ((_, sc), i) =>
          Seq(min(col(sc)).as(s"mn_$i"), max(col(sc)).as(s"mx_$i"))
        }
        val row = src.agg(aggs.head, aggs.tail: _*).head()
        pairs.zipWithIndex.flatMap { case ((tc, _), i) =>
          val lo = graft.sources.SnapshotCatalog.render(row.get(2 * i))
          val hi = graft.sources.SnapshotCatalog.render(row.get(2 * i + 1))
          // an empty source (null bounds) prunes nothing here — the
          // merge is then a no-op anyway
          if (lo.isDefined && hi.isDefined) Some((tc, lo, hi)) else None
        }
      }
    ranges ++ literalBoxes(cond, tgtSet)
  }

  /** An arm's own condition, null-safe (SQL: a NULL condition neither
    * fires the arm nor blocks later ones).
    */
  private def condOf(remap: Expression => Column)(a: MergeAction): Column =
    coalesce(a.condition.map(remap).getOrElse(lit(true)), lit(false))

  /** Arm `i` is the FIRST whose condition holds — SQL MERGE evaluates
    * WHEN clauses in order.
    */
  private def armPick(remap: Expression => Column, arms: Seq[MergeAction],
      i: Int): Column =
    arms.take(i).foldLeft(condOf(remap)(arms(i)))((acc, p) =>
      acc && !condOf(remap)(p))

  private def anyArm(remap: Expression => Column,
      arms: Seq[MergeAction]): Column =
    arms.map(condOf(remap)).reduce(_ || _)

  private def assignmentsByName(assigns: Seq[Assignment])
      : Map[String, Expression] =
    assigns.map(a => a.key match {
      case ar: AttributeReference => ar.name -> a.value
      case other => throw new UnsupportedOperationException(
        s"only top-level column assignments are supported, got $other")
    }).toMap

  /** The full table-row projection of an UPDATE arm: assigned columns
    * take their (re-bound, type-aligned) values, the rest carry the
    * target row through.
    */
  private def updateProjection(df: DataFrame, schema: StructType,
      remap: Expression => Column, tgtBy: Map[String, Attribute],
      assigns: Seq[Assignment]): DataFrame = {
    val byName = assignmentsByName(assigns)
    df.select(schema.fields.toIndexedSeq.map { f =>
      byName.get(f.name)
        .map(v => remap(v).cast(f.dataType))
        .getOrElse(DmlBridge.column(tgtBy(f.name)))
        .as(f.name)
    }: _*)
  }

  /** The full table-row projection of an INSERT arm: unassigned
    * columns insert as NULL (SQL INSERT-with-column-list semantics).
    */
  private def insertProjection(df: DataFrame, schema: StructType,
      remap: Expression => Column, assigns: Seq[Assignment]): DataFrame = {
    val byName = assignmentsByName(assigns)
    df.select(schema.fields.toIndexedSeq.map { f =>
      byName.get(f.name)
        .map(v => remap(v).cast(f.dataType))
        .getOrElse(lit(null).cast(f.dataType))
        .as(f.name)
    }: _*)
  }

  def runMerge(spark: SparkSession, root: String,
      target: LogicalPlan, source: LogicalPlan, cond: Expression,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      bySource: Seq[MergeAction],
      wapBranch: Option[String] = None): Unit = {
    matched.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN MATCHED action: $other")
    }
    notMatched.foreach {
      case _: InsertAction => ()
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    bySource.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    val src0 = DmlBridge.ofRows(spark, source)
    // discovery pruning: the source's equi-key range + literal target
    // boxes skip whole target files from the manifest stat bands, so
    // a narrow upsert against a clustered 100 TB table opens O(band)
    // files, not the table (conservative: a file that could hold a
    // match always intersects; BY SOURCE arms disable it — they need
    // every target row). The range costs one bounded agg on the source.
    val pruning = mergePruning(src0, cond, target, source, bySource)
    val (head, tgt0) = discover(spark, root, wapBranch, pruning)
    val schema = head.schema
    Seq("__path", "__pos", "__t", "__s").foreach(r => require(
      !schema.fieldNames.contains(r), s"column name $r is reserved"))
    // presence markers: outer joins null the absent side's marker, so
    // row classification never depends on data-column nullability
    require(!src0.columns.contains("__s") && !schema.fieldNames.contains("__t"),
      "column names __t/__s are reserved")
    val tgt = tgt0.withColumn("__t", lit(true))
    val src = src0.withColumn("__s", lit(true))
    val tgtBy = outputsByName(tgt)
    val srcBy = outputsByName(src)
    val remap = binder(Seq(target -> tgtBy, source -> srcBy))
    val tPresent = DmlBridge.column(tgtBy("__t")).isNotNull
    val sPresent = DmlBridge.column(srcBy("__s")).isNotNull
    val tPath = DmlBridge.column(tgtBy("__path"))
    val tPos = DmlBridge.column(tgtBy("__pos"))
    // the narrowest join that still sees every arm's row class
    val joinType =
      if (bySource.nonEmpty && notMatched.nonEmpty) "full_outer"
      else if (bySource.nonEmpty) "left_outer"
      else if (notMatched.nonEmpty) "right_outer"
      else "inner"
    val joined = tgt.join(src, remap(cond), joinType)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (matched.nonEmpty) {
        // standard MERGE cardinality rule: one source row per target row
        val dup = joined.filter(tPresent && sPresent)
          .groupBy(tPath, tPos).count().filter(col("count") > 1)
          .limit(1).count()
        if (dup > 0) throw new UnsupportedOperationException(
          "MERGE cardinality violation: a target row matched more than " +
            "one source row; deduplicate the source on the merge keys")
      }
      val deadParts =
        (if (matched.nonEmpty)
          Seq(joined.filter(tPresent && sPresent && anyArm(remap, matched)))
        else Seq.empty) ++
        (if (bySource.nonEmpty)
          Seq(joined.filter(tPresent && !sPresent && anyArm(remap, bySource)))
        else Seq.empty)
      val dead = deadParts
        .map(_.select(tPath.as("t_path"), tPos.as("t_pos")))
        .reduceOption(_ unionByName _)
      val addParts =
        matched.zipWithIndex.collect { case (u: UpdateAction, i) =>
          updateProjection(
            joined.filter(tPresent && sPresent && armPick(remap, matched, i)),
            schema, remap, tgtBy, u.assignments)
        } ++
        notMatched.zipWithIndex.collect { case (ins: InsertAction, i) =>
          insertProjection(
            joined.filter(!tPresent && sPresent && armPick(remap, notMatched, i)),
            schema, remap, ins.assignments)
        } ++
        bySource.zipWithIndex.collect { case (u: UpdateAction, i) =>
          updateProjection(
            joined.filter(tPresent && !sPresent && armPick(remap, bySource, i)),
            schema, remap, tgtBy, u.assignments)
        }
      val adds = addParts.reduceOption(_ unionByName _).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
      commitMor(spark, head, dead, adds, "mor-merge")
    } finally joined.unpersist()
    ()
  }

  def runDelete(spark: SparkSession, root: String, table: LogicalPlan,
      cond: Expression, wapBranch: Option[String] = None): Unit = {
    // a subquery-bearing predicate cannot reach the library's
    // self-scanning CoW delete — take the MoR discovery route, where
    // the (uncorrelated) subquery evaluates as a plain semi/anti-join
    // against the coordinate frame
    val hasSubquery = cond.collectFirst { case sq: org.apache.spark.sql
        .catalyst.expressions.SubqueryExpression => sq }.isDefined
    if (wapBranch.isDefined || hasSubquery) {
      // a WAP DELETE stages on the branch as a MoR delete too: one
      // vector in the branch's next manifest, zero file rewrites,
      // invisible to main until publish. NULL predicates are not
      // matches (the same three-valued rule as every delete door).
      val tgtSet = (e: Expression) => e match {
        case a: AttributeReference => table.outputSet.contains(a)
        case _ => false
      }
      val pruning = literalBoxes(cond, tgtSet)
      val (head, tgt) = discover(spark, root, wapBranch, pruning)
      val tgtBy = outputsByName(tgt)
      val remap = binder(Seq(table -> tgtBy))
      val dead = tgt.filter(coalesce(remap(cond), lit(false)))
        .select(DmlBridge.column(tgtBy("__path")).as("t_path"),
          DmlBridge.column(tgtBy("__pos")).as("t_pos"))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], head.schema)
      commitMor(spark, head, Some(dead), empty, "mor-delete")
      return
    }
    // rebind the predicate's table attributes to UNRESOLVED names and
    // hand it to the library's delete — both deletes scan the table
    // themselves, so their own resolution must bind the columns (a
    // resolved attribute from any other plan instance would dangle)
    val pred = DmlBridge.column(cond.transform {
      case a: AttributeReference if table.outputSet.contains(a) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(a.name)
    })
    // SQL MERGE/UPDATE commit positional delete vectors as their normal
    // mode, and the CoW deleteWhere refuses while any are outstanding —
    // so the pure-SQL sequence UPDATE-then-DELETE must take the MoR
    // delete (one more vector, zero file rewrites) instead of failing
    // until a rewrite_deletes/optimize CALL folds them. One resolved
    // head serves the test and the delete.
    val head = SnapshotLog.resolve(spark, root)
    if (head.hasMorDeletes) SnapshotLog.deleteWhereMoR(spark, head, pred)
    else SnapshotLog.deleteWhere(spark, head, pred)
    ()
  }

  def runUpdate(spark: SparkSession, root: String, table: LogicalPlan,
      assigns: Seq[Assignment], cond: Option[Expression],
      wapBranch: Option[String] = None): Unit = {
    // discovery pruning from the WHERE clause's literal boxes — every
    // row the update can touch satisfies them, so non-intersecting
    // files are carried untouched without ever being opened
    val tgtSet = (e: Expression) => e match {
      case a: AttributeReference => table.outputSet.contains(a)
      case _ => false
    }
    val pruning = cond.toSeq.flatMap(literalBoxes(_, tgtSet))
    val (head, tgt) = discover(spark, root, wapBranch, pruning)
    val tgtBy = outputsByName(tgt)
    val remap = binder(Seq(table -> tgtBy))
    val hit = tgt.filter(cond.map(remap).getOrElse(lit(true)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dead = hit.select(
        DmlBridge.column(tgtBy("__path")).as("t_path"),
        DmlBridge.column(tgtBy("__pos")).as("t_pos"))
      val adds = updateProjection(hit, head.schema, remap, tgtBy, assigns)
      commitMor(spark, head, Some(dead), adds, "mor-update")
    } finally hit.unpersist()
    ()
  }
}
