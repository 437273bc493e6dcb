package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Whole-operator Catalyst extension: per-key top-k behind the standard
  * window idiom.
  *
  * The idiomatic Spark form —
  * {{{ row_number().over(Window.partitionBy(K).orderBy(O)) <= k }}} —
  * SORTS every partition's full row set in the window operator and then
  * throws away everything below rank k. At 100 TB that is a full shuffle
  * of the fact table followed by an n·log(n) sort per key group, for an
  * output k rows per key.
  *
  * Spark ≥ 3.5 already mitigates the shuffle: `InferWindowGroupLimit`
  * inserts a sort-based partial group limit below the exchange, so only
  * ≤ k rows per (partition, key) move. What the built-in plan still
  * pays is CPU — a FULL sort of every map-side partition, a post-shuffle
  * sort, and the Window operator re-ranking the survivors. This module
  * swaps in the heap algorithm without changing user code:
  *
  *  - [[TopKViaRowNumber]] (optimizer rule) recognizes
  *    `Filter(rank cmp lit, Window(row_number over (K, O)))` — the shape
  *    the main optimizer batches normalize that idiom to — replaces it
  *    with the [[TopKPerKeyRank]] logical node (rank attribute keeps
  *    its exprId, so downstream projections are untouched), and subsumes
  *    the inferred WindowGroupLimit child.
  *  - [[TopKStrategy]] plans it as PARTIAL per-input-partition bounded
  *    heaps (O(n·log k) upkeep, no sort buffer) → hash exchange on K
  *    (inserted by EnsureRequirements from the final node's required
  *    distribution) → FINAL streaming rank over key-sorted input — the
  *    map-side full sort and the Window operator are gone. Measured
  *    2.2× over the built-in plan at 5.1M rows / 32 cores with
  *    identical shuffle bytes ([[TopKBench]]).
  *
  * Memory safety at 100 TB — both passes are bounded at ANY key
  * cardinality:
  *
  *  - The PARTIAL heap table is capped at [[TopKPerKey.MaxHeapKeys]]
  *    keys (1M). On overflow the first-seen key's current top-k is
  *    EMITTED downstream and its heap dropped — correctness-
  *    preserving, because any row in the true
  *    partition top-k for a key beats all but < k rows of the whole
  *    partition, hence beats all but < k rows of whichever emitted
  *    chunk contains it: the union of a key's chunk top-k's is a
  *    superset of the partition top-k. Eviction only costs extra
  *    shuffled rows (≤ k per chunk), degrading toward what the
  *    built-in WindowGroupLimit plan always ships.
  *  - The FINAL pass declares a required child ordering of (K, O), so
  *    EnsureRequirements plans Spark's spill-capable SortExec over the
  *    ALREADY-REDUCED shuffle input (≤ k rows per key per map task),
  *    and rank emission is a streaming group scan with O(1) state —
  *    no per-key table at all.
  *
  * Ties rank nondeterministically exactly like `row_number` (callers
  * add a tiebreak column to O for determinism).
  *
  * Active in every session built by `graft.GraftSession`, through
  * `GraftExtensions` (rule + strategy injection). The stock Window plan
  * is the same query with `spark.sql.optimizer.excludedRules` set to
  * [[TopKViaRowNumber]]'s rule name ([[TopKBench]] compares the two).
  * `ev3` and `ev5` both plan through this stack.
  */
object TopKPerKey {

  /** Cap on distinct keys held by one partial-pass task (keys × k rows). */
  val MaxHeapKeys = 1 << 20

  /** Bounded-heap top-k reduction of one input partition (the partial
    * pass), as an iterator over [[PartialTopKRuntime]] — the same state
    * object the codegen path drives. Evicted chunks (key-cardinality
    * overflow) flow straight downstream here, never re-buffered.
    */
  private[plans] def partialTopK(
      iter: Iterator[InternalRow],
      part: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      inputAttrs: Seq[Attribute],
      maxKeys: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val state = new PartialTopKRuntime(
      UnsafeProjection.create(part, inputAttrs),
      RowOrdering.create(order, inputAttrs), k, maxKeys)
    private var pending: java.util.Iterator[InternalRow] =
      java.util.Collections.emptyIterator()
    private var drained = false

    private def advance(): Unit =
      while (!pending.hasNext && !drained) {
        if (iter.hasNext) {
          state.update(iter.next())
          if (state.hasEvicted) pending = state.takeEvicted()
        } else {
          drained = true
          pending = state.drain()
        }
      }

    override def hasNext: Boolean = { advance(); pending.hasNext }
    override def next(): InternalRow = { advance(); pending.next() }
  }

  /** Streaming rank emission over (K, O)-sorted input (the final pass):
    * one group counter, no per-key state — rows of a key arrive
    * contiguous and best-first, so the first k are ranks 1..k and the
    * rest are skipped.
    */
  private[plans] def streamingRank(
      iter: Iterator[InternalRow],
      part: Seq[Expression],
      k: Int,
      inputAttrs: Seq[Attribute],
      rank: Attribute): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val keyProj = UnsafeProjection.create(part, inputAttrs)
    private val proj = UnsafeProjection.create(inputAttrs :+ rank, inputAttrs :+ rank)
    private val rankRow = new GenericInternalRow(1)
    private val joined = new JoinedRow
    private var curKey: UnsafeRow = null
    private var curRank = 0
    private var nextRow: InternalRow = null

    private def advance(): Unit =
      while (nextRow == null && iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        if (curKey == null || key != curKey) {
          curKey = key.copy()
          curRank = 0
        }
        curRank += 1
        if (curRank <= k) nextRow = row
      }

    override def hasNext: Boolean = { advance(); nextRow != null }
    override def next(): InternalRow = {
      advance()
      val r = nextRow
      nextRow = null
      rankRow.update(0, curRank)
      proj(joined(r, rankRow))
    }
  }
}

/** Per-partition bounded-heap state shared by the interpreted and
  * generated partial passes. One entry per key (≤ maxKeys), each a
  * (k+1)-capacity worst-first heap; overflow evicts the first-seen key's
  * chunk (see the memory-safety contract in [[TopKPerKey]]'s scaladoc).
  * Public only because janino-generated code must call it.
  */
final class PartialTopKRuntime(
    keyProj: UnsafeProjection,
    ord: Ordering[InternalRow],
    k: Int,
    maxKeys: Int) {
  private val worstFirst = ord.reverse // heap head = currently worst kept row
  private val heaps =
    new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
  // chunks dropped on key-cardinality overflow, awaiting emission; the
  // interpreted iterator drains after every update (streaming), the
  // generated pipeline drains in drain() — either way each chunk is
  // ≤ k rows the built-in plan would have shuffled anyway
  private val evictedChunks =
    new java.util.ArrayDeque[java.util.PriorityQueue[InternalRow]]()

  def update(row: InternalRow): Unit = {
    val key = keyProj(row)
    var q = heaps.get(key)
    if (q == null) {
      q = new java.util.PriorityQueue[InternalRow](k + 1, worstFirst)
      heaps.put(key.copy(), q)
      if (heaps.size() > maxKeys) { // evict first-seen key's chunk
        val it = heaps.entrySet().iterator()
        val eldest = it.next()
        it.remove()
        evictedChunks.add(eldest.getValue)
      }
    }
    if (q.size < k) q.add(row.copy())
    else if (ord.compare(row, q.peek()) < 0) { q.poll(); q.add(row.copy()) }
  }

  def hasEvicted: Boolean = !evictedChunks.isEmpty

  /** Stream out (and forget) the pending evicted chunks. */
  def takeEvicted(): java.util.Iterator[InternalRow] = {
    val mine = new java.util.ArrayList[java.util.PriorityQueue[InternalRow]](evictedChunks)
    evictedChunks.clear()
    flatten(mine.iterator())
  }

  /** Everything still held: leftover evicted chunks, then the heap
    * contents (call after input is exhausted).
    */
  def drain(): java.util.Iterator[InternalRow] = {
    val parts = new java.util.ArrayList[java.util.PriorityQueue[InternalRow]](evictedChunks)
    evictedChunks.clear()
    parts.addAll(heaps.values())
    flatten(parts.iterator())
  }

  private def flatten(
      outer: java.util.Iterator[java.util.PriorityQueue[InternalRow]])
      : java.util.Iterator[InternalRow] =
    new java.util.Iterator[InternalRow] {
      private var inner: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      override def hasNext: Boolean = {
        while (!inner.hasNext && outer.hasNext) inner = outer.next().iterator()
        inner.hasNext
      }
      override def next(): InternalRow = { hasNext; inner.next() }
    }
}

/** Driver-built, executor-run factory for [[PartialTopKRuntime]] — the
  * single reference object the generated code needs (projection and
  * ordering are themselves codegen'd on the executor).
  */
final class PartialTopKFactory(
    part: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    inputAttrs: Seq[Attribute]) extends Serializable {
  def create(): PartialTopKRuntime =
    new PartialTopKRuntime(
      UnsafeProjection.create(part, inputAttrs),
      RowOrdering.create(order, inputAttrs), k, TopKPerKey.MaxHeapKeys)
}

/** Logical per-key top-k by rank: output = child.output :+ rankAttr,
  * where rankAttr keeps the window alias's exprId.
  */
case class TopKPerKeyRank(
    part: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends logical.UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Rewrite `Filter(rank cmp lit)` directly above a single-expression
  * `row_number` Window into [[TopKPerKeyRank]]. Runs in the user batch
  * (after predicate pushdown / cast unwrapping have normalized the
  * shape); idempotent because the rewrite removes the Filter+Window pair
  * it matches on.
  */
object TopKViaRowNumber extends Rule[LogicalPlan] {

  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) if v <= Int.MaxValue => Some(v.toInt)
    case _ => None
  }

  /** rank-limit k expressed by the filter, if the condition is a single
    * comparison of the rank column (possibly cast) with a literal.
    */
  private def limitOf(cond: Expression, rank: Attribute): Option[Int] = {
    def isRank(e: Expression): Boolean = e match {
      case a: Attribute => a.semanticEquals(rank)
      case c: Cast => isRank(c.child)
      case _ => false
    }
    cond match {
      case LessThanOrEqual(r, l) if isRank(r) => intLit(l)
      case LessThan(r, l) if isRank(r) => intLit(l).map(_ - 1)
      case GreaterThanOrEqual(l, r) if isRank(r) => intLit(l)
      case GreaterThan(l, r) if isRank(r) => intLit(l).map(_ - 1)
      case EqualTo(r, l) if isRank(r) => intLit(l).filter(_ == 1)
      case EqualTo(l, r) if isRank(r) => intLit(l).filter(_ == 1)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ logical.Filter(cond, w: logical.Window)
        if w.windowExpressions.size == 1 &&
          w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty =>
      w.windowExpressions.head match {
        case al @ Alias(WindowExpression(_: RowNumber, _), _) =>
          limitOf(cond, al.toAttribute) match {
            case Some(k) if k >= 1 && k <= 10000000 =>
              // Spark >= 3.5's InferWindowGroupLimit has usually already
              // inserted a sort-based logical WindowGroupLimit below the
              // Window; our heap operators subsume it (same reduction
              // without the full per-partition sort), so unwrap it.
              val child = w.child match {
                case wgl: logical.WindowGroupLimit
                    if wgl.partitionSpec == w.partitionSpec &&
                      wgl.orderSpec == w.orderSpec => wgl.child
                case c => c
              }
              TopKPerKeyRank(w.partitionSpec, w.orderSpec, k, al.toAttribute, child)
            case _ => f
          }
        case _ => f
      }
  }
}

/** Plan [[TopKPerKeyRank]] as partial → (exchange) → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyRank(part, order, k, rankAttr, child) =>
      FinalTopKPerKeyExec(part, order, k, rankAttr,
        PartialTopKPerKeyExec(part, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side combine: reduce every input partition to ≤ k rows per key
  * chunk it holds. No distribution requirement — runs where the data
  * is; heap memory capped at [[TopKPerKey.MaxHeapKeys]] keys.
  *
  * Implements whole-stage codegen as a BLOCKING operator (the SortExec
  * pattern): the upstream pipeline (scan → filter → project) pushes rows
  * straight into the heap table — no iterator hop, no per-row virtual
  * dispatch at the operator boundary — and the produce loop then streams
  * the reduced rows to the shuffle writer. `doExecute` remains the
  * interpreted fallback (codegen disabled / fallback paths); both drive
  * the same [[PartialTopKRuntime]]. One asymmetry: under key-cardinality
  * overflow the generated pipeline emits evicted chunks at drain time
  * rather than mid-input (a blocking codegen stage cannot yield inside
  * the input phase), so pathological cardinality holds the evicted rows
  * — the rows the built-in plan would shuffle anyway — until input ends;
  * the interpreted path streams them immediately.
  */
case class PartialTopKPerKeyExec(
    part: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode
    with org.apache.spark.sql.execution.BlockingOperatorWithCodegen {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val (p, o, kk, attrs) = (part, order, k, child.output)
    child.execute().mapPartitions(
      TopKPerKey.partialTopK(_, p, o, kk, attrs, TopKPerKey.MaxHeapKeys),
      preservesPartitioning = true)
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].inputRDDs()

  // rows are copied into the heaps, so upstream variables need not be
  // pre-evaluated for us (we consume the row form)
  override def usedInputs: AttributeSet = AttributeSet.empty

  private var stateTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val needInput = ctx.addMutableState(
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.JAVA_BOOLEAN,
      "topkNeedInput", v => s"$v = true;")
    stateTerm = ctx.addMutableState(classOf[PartialTopKRuntime].getName, "topkState")
    val factoryTerm = ctx.addReferenceObj("topkFactory",
      new PartialTopKFactory(part, order, k, child.output),
      classOf[PartialTopKFactory].getName)
    val addInput = ctx.addNewFunction("addTopKInput",
      s"""
         |private void addTopKInput() throws java.io.IOException {
         |  ${child.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin, inlineToOuterClass = true)
    // raw java.util.Iterator: janino has no generics
    val iterTerm = ctx.addMutableState("java.util.Iterator", "topkOutput")
    val outputRow = ctx.freshName("topkRow")
    s"""
       |if ($needInput) {
       |  $stateTerm = $factoryTerm.create();
       |  $addInput();
       |  $iterTerm = $stateTerm.drain();
       |  $needInput = false;
       |}
       |while ($limitNotReachedCond $iterTerm.hasNext()) {
       |  org.apache.spark.sql.catalyst.InternalRow $outputRow =
       |    (org.apache.spark.sql.catalyst.InternalRow) $iterTerm.next();
       |  ${consume(ctx, null, outputRow)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(
      ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    s"""
       |${row.code}
       |$stateTerm.update(${row.value});
     """.stripMargin

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Rank emission; requires co-location on the keys (EnsureRequirements
  * inserts the hash exchange above the partial) and (K, O) ordering
  * (EnsureRequirements plans a spill-capable SortExec over the reduced
  * shuffle input), so the scan itself holds O(1) state.
  */
case class FinalTopKPerKeyExec(
    part: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(part) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (part.map(SortOrder(_, Ascending)) ++ order) :: Nil
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = {
    val (p, kk, attrs, rank) = (part, k, child.output, rankAttr)
    child.execute().mapPartitions(
      TopKPerKey.streamingRank(_, p, kk, attrs, rank),
      preservesPartitioning = false)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
