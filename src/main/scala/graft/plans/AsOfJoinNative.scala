package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The whole-operator custom-planner path (preference (c) of the
  * custom-operator ladder): as-of join as a first-class plan node —
  * logical [[AsOfJoinNode]], planned by [[AsOfJoinStrategy]] into
  * [[AsOfJoinExec]], installed into every session at build time by
  * [[GraftExtensions]]. Semantics are identical to the composed
  * union+window form in `graft.operators.AsofJoin.asof` (each left row
  * gains the payload of the latest right row with `right.ts <= left.ts`
  * on the same key; ties on (key, ts) resolve to the greatest payload
  * tuple), and the equivalence is both ScalaTest-pinned and
  * DuckDB-oracle-checked (`j08_asof_native` shares j05's native ASOF
  * JOIN oracle).
  *
  * Why a physical operator when the window form already scales: the
  * union form shuffles BOTH sides into one sort and carries every left
  * row through window-state; this node keeps the sides separate (each
  * shuffled only on its own key and sorted within partitions), then
  * streams a per-partition two-pointer merge — no window buffer, no
  * per-row null-payload columns on the left, and the right side can be
  * orders of magnitude smaller than the union. Exactly the plan shape
  * a purpose-built ASOF engine (QuestDB/kdb-style) executes, expressed
  * through Catalyst so Exchange reuse, AQE, and codegen'd children all
  * still apply.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    payload: Seq[Attribute],
    payloadOut: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut

  // payloadOut attributes are minted by this node, not read from children
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical as-of join: children hash-clustered on their key and sorted
  * within partitions by (key, ts[, payload...]); a buffered two-pointer
  * merge then emits each left row joined to the last qualifying right
  * payload. One shuffle per side (co-partitioned by EnsureRequirements),
  * O(|L| + |R|) merge work per partition, O(1) state beyond the current
  * payload — spill-safe because the sort is the children's, not ours. */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    payload: Seq[Attribute],
    payloadOut: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut

  // standard exec instrumentation — surfaces in the SQL UI / explain
  // like every built-in join's metrics
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of left rows with a match"))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // payload columns as trailing right-side sort keys: when several right
  // rows share (key, ts), the LAST consumed (= greatest payload tuple)
  // wins deterministically — same tie-break the window form pins. Cost:
  // every payload column participates in the right-side sort comparator
  // even when (key, ts) ties are impossible, and each must be an
  // ORDERABLE type — both validated/documented at the NativeAsof API.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    SortOrder(rightKey, Ascending) +: SortOrder(rightTs, Ascending) +:
      payload.map(p => SortOrder(p, Ascending)))

  protected override def doExecute(): RDD[InternalRow] = {
    // Comparison strategy (the merge's entire per-row cost): keys are
    // projected to single-column UnsafeRows by CODEGEN'D projections and
    // compared with a GENERATED ordering — the SortMergeJoin technique —
    // instead of interpreted expression eval, which allocates a wrapper
    // (UTF8String) or box (Long) per probe and dispatches megamorphically.
    // Ascending generated orderings are NULLS FIRST, matching the
    // children's sort: null keys form the first group and match each
    // other, and a null ts orders before every real ts (acts as
    // -infinity) — exactly what the union+window form gives dirty data,
    // keeping the documented equivalence (pinned in AsofNativeSpec).
    // Long-backed ts types (timestamps are micros-longs internally) skip
    // even the projection and compare raw longs.
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val nPayload = payload.length
    val payloadExprs = payload.map(_.asInstanceOf[Expression])
    val lKey = leftKey; val lTs = leftTs; val rKey = rightKey; val rTs = rightTs
    import org.apache.spark.sql.types.{LongType => SLong, TimestampNTZType => SNtz, TimestampType => STs}
    val tsLongBacked = Seq(lTs.dataType, rTs.dataType).forall {
      case STs | SNtz | SLong => true
      case _ => false
    }
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // generated inside the partition: BaseOrdering instances are not
      // serializable, and Janino's cache dedupes the per-partition codegen
      val keyCmp: Ordering[InternalRow] = codegen.GenerateOrdering.generate(
        Seq(SortOrder(BoundReference(0, lKey.dataType, nullable = true), Ascending)))
      val tsCmp: Ordering[InternalRow] =
        if (tsLongBacked) null
        else codegen.GenerateOrdering.generate(
          Seq(SortOrder(BoundReference(0, lTs.dataType, nullable = true), Ascending)))
      val lKeyProj = UnsafeProjection.create(Seq(lKey: Expression), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKey: Expression), rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTs: Expression), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTs: Expression), rOut)
      val lTsAt = BindReferences.bindReference(lTs: Expression, lOut)
        .asInstanceOf[BoundReference].ordinal
      val rTsAt = BindReferences.bindReference(rTs: Expression, rOut)
        .asInstanceOf[BoundReference].ordinal
      val payloadProj = UnsafeProjection.create(payloadExprs, rOut)
      val resultProj = UnsafeProjection.create(
        outAttrs.map(_.asInstanceOf[Expression]), lOut ++ payloadOut)
      val joined = new JoinedRow
      val nullPayload: InternalRow = InternalRow.fromSeq(Seq.fill(nPayload)(null))
      // Current right row, DECODED ONCE on advance: a buffered-head form
      // would re-project the same head row's key and ts for every left
      // row it survives — O(|L|) redundant work on same-key stretches.
      // The projected key/ts live in the r*Proj reuse buffers, which stay
      // valid between advances (only the next advanceR() overwrites them),
      // same for the sort iterator's row buffer behind rRow.
      var rValid = false
      var rRow: InternalRow = null
      var rKeyRow: InternalRow = null
      var rTsNull = false; var rTsLong = 0L; var rTsRow: InternalRow = null
      def advanceR(): Unit =
        if (rIter.hasNext) {
          rRow = rIter.next()
          rKeyRow = rKeyProj(rRow)
          if (tsLongBacked) {
            rTsNull = rRow.isNullAt(rTsAt)
            rTsLong = if (rTsNull) 0L else rRow.getLong(rTsAt)
          } else rTsRow = rTsProj(rRow)
          rValid = true
        } else { rValid = false; rRow = null; rKeyRow = null; rTsRow = null }
      advanceR()
      // lastKey/lastPayload are COPIES: upstream sort iterators and
      // projections reuse row buffers, so anything retained across
      // next() must be detached.
      var lastKey: InternalRow = null
      var haveMatch = false
      var lastPayload: InternalRow = nullPayload
      lIter.map { lrow =>
        val lkRow = lKeyProj(lrow)
        var lTsNull = false; var lTsLong = 0L; var lTsRow: InternalRow = null
        if (tsLongBacked) {
          lTsNull = lrow.isNullAt(lTsAt)
          lTsLong = if (lTsNull) 0L else lrow.getLong(lTsAt)
        } else lTsRow = lTsProj(lrow)
        // right.ts <= left.ts under nulls-first (null ts = -infinity)
        def rTsLeL: Boolean =
          if (tsLongBacked) rTsNull || (!lTsNull && rTsLong <= lTsLong)
          else tsCmp.compare(rTsRow, lTsRow) <= 0
        while (rValid && keyCmp.compare(rKeyRow, lkRow) < 0) advanceR()
        while (rValid && keyCmp.compare(rKeyRow, lkRow) == 0 && rTsLeL) {
          lastPayload = payloadProj(rRow).copy()
          // skip the defensive key copy when still inside the same key
          // group — one copy per key, not one per consumed right row
          if (!haveMatch || keyCmp.compare(lastKey, lkRow) != 0)
            lastKey = lkRow.copy()
          haveMatch = true
          advanceR()
        }
        val matched = haveMatch && keyCmp.compare(lastKey, lkRow) == 0
        val p = if (matched) lastPayload else nullPayload
        numOutputRows += 1
        if (matched) numMatchedRows += 1
        resultProj(joined(lrow, p))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfJoinExec]]; installed by
  * [[GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lts, rk, rts, p, pOut) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lts, rk, rts, p, pOut) :: Nil
    case _ => Nil
  }
}

/** WHOLE-JOIN elimination — the custom-node analogue of what Catalyst
  * does to the composed union+window as-of on its own: under `count()`
  * (or any consumer ignoring the `asof_*` columns) the built-in pruning
  * folds the window form's `filter(_is_left = 1)` back to just the left
  * branch and drops the Window outright, so the query never joins at
  * all. The as-of node emits EXACTLY one output row per left row (no
  * multiplication, no filtering — pinned in AsofNativeSpec), so when an
  * enclosing Project or Aggregate consumes none of the minted payload
  * attributes the node is, cardinality- and column-wise, its left
  * child. Without this rule the opaque node pays both shuffles and the
  * merge for a result the plan then throws away (j08 under Bench's
  * `count()`). */
object AsOfJoinElimination extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList, j: AsOfJoinNode)
        if AttributeSet(projList.flatMap(_.references))
          .intersect(AttributeSet(j.payloadOut)).isEmpty =>
      p.copy(child = j.left)
    case a: Aggregate if a.child.isInstanceOf[AsOfJoinNode] &&
        a.references.intersect(
          AttributeSet(a.child.asInstanceOf[AsOfJoinNode].payloadOut)).isEmpty =>
      a.withNewChildren(Seq(a.child.asInstanceOf[AsOfJoinNode].left))
  }
}

/** DataFrame-level builder over [[AsOfJoinNode]] — the same signature
  * and output contract as `graft.operators.AsofJoin.asof` (left columns
  * plus `asof_<payload>` columns), so callers can swap implementations
  * per workload shape.
  *
  * Payload columns double as the right-side (key, ts) tie-break sort
  * keys, so they must be ORDERABLE types (no map / nested non-orderable
  * fields — validated here with a clear error), and wide payloads add
  * sort-comparator cost even when ties are impossible; project the
  * payload down, or use the union+window form, when that matters. */
object NativeAsof {
  import org.apache.spark.sql.DataFrame

  def asof(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           payloadCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      throw new IllegalStateException("the native as-of join needs a session built " +
        "with graft.plans.GraftExtensions (graft.Session does this)")
    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    def find(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$side side has no column '$n' (has: ${out.map(_.name).mkString(", ")})"))
    // the merge reads only (key, ts, payload) from the right side, so the
    // right shuffle carries nothing else; fresh exprIds so a self-as-of
    // (both sides from one table, as in blocked-vs-allowed) can never
    // alias-collide
    val rPlan = Project((Seq(keyCol, tsCol) ++ payloadCols).distinct
      .map(n => Alias(find(rAnalyzed.output, n, "right"), n)()), rAnalyzed)
    val payload = payloadCols.map(find(rPlan.output, _, "right"))
    payload.find(p => !RowOrdering.isOrderable(p.dataType)).foreach { p =>
      throw new IllegalArgumentException(
        s"payload column '${p.name}' has non-orderable type " +
          s"${p.dataType.catalogString}: the native as-of sorts payload columns " +
          "for the (key, ts) tie-break — project it to an orderable type or " +
          "use the union+window form (graft.operators.AsofJoin.asof)")
    }
    val payloadOut = payload.map(p =>
      AttributeReference(s"asof_${p.name}", p.dataType, nullable = true)())
    val node = AsOfJoinNode(lPlan, rPlan,
      find(lPlan.output, keyCol, "left"), find(lPlan.output, tsCol, "left"),
      find(rPlan.output, keyCol, "right"), find(rPlan.output, tsCol, "right"),
      payload, payloadOut)
    org.apache.spark.sql.GraftBridge.ofRows(spark, node)
  }
}
