package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences,
  Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The as-of join as one logical operator, built (and its inputs
  * checked) only by `graft.ops.AsOfJoin.directional`. Spark's built-ins
  * can express it only as an equi+band join followed by a row_number
  * dedup (reference `processing_raw_data_from_gcs.py:143-159`), which
  * duplicates every left row once per in-band right row before the rank
  * filter. This operator plans it as what it is: both sides
  * hash-partitioned on the key and sorted by (key, time), then ONE
  * streaming merge pass per partition holding O(1) state. Cost: two
  * sort-shuffles and a linear merge, independent of band density.
  *
  * Wiring: [[AsOfJoinNode]] (logical, on analyzed child plans) →
  * [[AsOfJoinStrategy]] (injected via
  * `GraftExtensions.injectPlannerStrategy`) → [[AsOfJoinExec]]
  * (physical; `requiredChildDistribution`/`Ordering` make
  * EnsureRequirements insert the exchanges and sorts).
  *
  * `direction` is one of the pandas-`merge_asof` directions
  * (`AsOfJoin.Directions`):
  *
  *  - `backward` — latest right with rightTime ≤ leftTime and
  *    leftTime − rightTime ≤ tolerance
  *  - `forward` — earliest right with rightTime ≥ leftTime and
  *    rightTime − leftTime ≤ tolerance
  *  - `nearest` — right minimizing |rightTime − leftTime| within
  *    ±tolerance; equidistant ties break to the EARLIER right row
  *
  * Time columns are both TimestampType or both LongType; `tolerance` is
  * in their unit (µs for TimestampType). Key columns share one
  * orderable type. `output` nullifies the right side (left outer
  * semantics).
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Attribute, leftTime: Attribute,
                        rightKey: Attribute, rightTime: Attribute,
                        tolerance: Long, direction: String) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
                                                 newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy translating [[AsOfJoinNode]] 1:1. */
class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftKey, n.leftTime, n.rightKey, n.rightTime, n.tolerance,
        n.direction, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: co-partitioned, co-sorted streaming merge.
  * All directions run the same forward-only pass — the direction only
  * changes which O(1) state the pass keeps per partition.
  */
case class AsOfJoinExec(leftKey: Attribute, leftTime: Attribute,
                        rightKey: Attribute, rightTime: Attribute,
                        tolerance: Long, direction: String,
                        left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // EnsureRequirements turns these into compatible hash exchanges +
  // in-partition sorts on both children — the whole physical contract
  // of the operator lives in these two declarations.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyExpr = BindReferences.bindReference(leftKey: Expression, left.output)
    val lTimeExpr = BindReferences.bindReference(leftTime: Expression, left.output)
    val rKeyExpr = BindReferences.bindReference(rightKey: Expression, right.output)
    val rTimeExpr = BindReferences.bindReference(rightTime: Expression, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tol = tolerance
    val rightLen = right.output.length
    val outAttrs = output
    // bind the right side NULLABLE: on a miss the joiner reads the
    // all-null row, and a non-nullable BoundReference would skip the
    // null check and read primitive zeros instead of NULLs
    val inAttrs = left.output ++ right.output.map(_.withNullability(true))

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val joiner = UnsafeProjection.create(outAttrs, inAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightLen)

      // one-row lookahead over the right side; rows are buffer-reused
      // by the sorter, so the retained match is always a copy().
      // Null right times are skipped outright — a null comparison can
      // never satisfy rightTime <= leftTime (matches the classic band
      // join and the DuckDB oracle; unboxing null would read as 0L)
      var rCur: InternalRow = null
      var rCurKey: Any = null
      var rCurTime: Long = 0L
      def advanceRight(): Unit = {
        rCur = null
        while (rCur == null && rIt.hasNext) {
          val r = rIt.next()
          val t = rTimeExpr.eval(r)
          if (t != null) {
            rCur = r
            rCurKey = rKeyExpr.eval(r)
            rCurTime = t.asInstanceOf[Long]
          }
        }
      }
      advanceRight()

      // backward-candidate state (kept for backward + nearest); the
      // retained row is always a copy() because the sorter reuses row
      // buffers across next() calls
      var matchRow: InternalRow = null
      var matchKey: Any = null
      var matchTime: Long = 0L

      // Consume right rows on earlier keys, then (when tracking the
      // backward candidate) all rows at this key with time <= t — the
      // last consumed one is the backward as-of match. After this call
      // rCur (if on this key) is the earliest right row with time > t,
      // i.e. exactly the forward candidate.
      def catchUp(k: Any, t: Long, trackBackward: Boolean): Unit = {
        // skip right rows on earlier keys (or null keys, which sort
        // first and can never match)
        while (rCur != null && (rCurKey == null || keyOrd.compare(rCurKey, k) < 0))
          advanceRight()
        while (rCur != null && rCurKey != null &&
               keyOrd.compare(rCurKey, k) == 0 && rCurTime <= t) {
          if (trackBackward) {
            matchRow = rCur.copy()
            matchKey = rKeyExpr.eval(matchRow)
            matchTime = rCurTime
          }
          advanceRight()
        }
      }

      val dir = direction
      lIt.map { l =>
        val k = lKeyExpr.eval(l)
        val tRaw = lTimeExpr.eval(l)
        // null key or null left time: no right row can qualify (null
        // comparisons are never true in the band-join form) → left
        // outer row with an all-null right side
        if (k == null || tRaw == null) joiner(joined(l, nullRight))
        else {
          val t = tRaw.asInstanceOf[Long]
          if (matchRow != null && keyOrd.compare(matchKey, k) != 0) matchRow = null
          val m = dir match {
            case "backward" =>
              catchUp(k, t, trackBackward = true)
              if (matchRow != null && keyOrd.compare(matchKey, k) == 0 &&
                  t - matchTime <= tol) matchRow
              else nullRight
            case "forward" =>
              // advance to the earliest right row with time >= t on
              // this key; left times ascend, so never rewinds. The
              // match is the (un-consumed) lookahead itself — the next
              // left row may match the same right row.
              while (rCur != null && (rCurKey == null ||
                     keyOrd.compare(rCurKey, k) < 0 ||
                     (keyOrd.compare(rCurKey, k) == 0 && rCurTime < t)))
                advanceRight()
              if (rCur != null && rCurKey != null &&
                  keyOrd.compare(rCurKey, k) == 0 && rCurTime - t <= tol) rCur
              else nullRight
            case "nearest" =>
              // backward candidate consumes rows <= t (so an exact
              // rt == t hit lands there at distance 0); the forward
              // candidate is the lookahead, strictly > t. Pick the
              // closer; equidistant ties to the earlier (backward) row.
              catchUp(k, t, trackBackward = true)
              val bOk = matchRow != null && keyOrd.compare(matchKey, k) == 0 &&
                t - matchTime <= tol
              val fOk = rCur != null && rCurKey != null &&
                keyOrd.compare(rCurKey, k) == 0 && rCurTime - t <= tol
              if (bOk && (!fOk || t - matchTime <= rCurTime - t)) matchRow
              else if (fOk) rCur
              else nullRight
          }
          joiner(joined(l, m))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
                                                 newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
