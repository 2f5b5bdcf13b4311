package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Whole-operator extension path (c): a native as-of join as a custom
  * LogicalPlan + SparkStrategy + physical SparkPlan, planned through the
  * normal Catalyst pipeline.
  *
  * [[graft.ops.AsofJoin.asofLastPrior]] expresses as-of compositionally
  * (union + one window) — correct and exact, but it materializes a merged
  * stream twice the left's width and runs `last(_, ignoreNulls)` over a
  * window buffer. This operator is the shape a native engine gives the
  * same semantics: EnsureRequirements co-partitions both children on the
  * key and sorts each by (key, time) — exactly what a sort-merge join
  * gets — and `doExecute` then streams the two sorted iterators with a
  * SINGLE buffered right row per key. O(1) memory per partition beyond
  * the sorts, no union, no window state, no second pass.
  *
  * Semantics (identical to the compositional operator and the DuckDB
  * `ASOF LEFT JOIN ... ON l.key = r.key AND l.t > r.t` oracle): for each
  * left row, attach the latest right row with the same key and
  * `right.time < left.time` STRICTLY; left rows with no prior right row,
  * a null key, or a null time get all-null right columns. Null keys never
  * match (SQL join semantics).
  *
  * At 100 TB: cost = one shuffle per unsorted side + per-partition sort,
  * the same envelope as any SMJ; both Exchanges are AQE-managed, and a
  * side already bucketed/sorted by (key, time) plans with its Exchange
  * and/or Sort elided — the `requiredChildDistribution`/`Ordering`
  * contract is what lets Catalyst prove that, which a `mapPartitions`
  * formulation could never express.
  */
case class AsofJoinNode(
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: [[AsofJoinNode]] → [[AsofMergeJoinExec]]. Registered via
  * `GraftExtensions` (injectPlannerStrategy) or post-hoc through
  * `GraftPlanBridge.addStrategy`.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(lk, lt, rk, rt, l, r) =>
      AsofMergeJoinExec(lk, lt, rk, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join. Both children arrive hash-partitioned on
  * the key and sorted by (key asc, time asc) — declared, not assumed:
  * EnsureRequirements inserts (or elides) the Exchange/Sort pairs. The
  * merge keeps ONE candidate right row (the latest with time strictly
  * before the current left row's time); left rows stream through exactly
  * once and in order, so `outputOrdering` re-exposes the (key, time)
  * sort to downstream operators.
  */
case class AsofMergeJoinExec(
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
        Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyType  = leftKey.dataType
    val timeType = leftTime.dataType
    val keyOrd   = TypeUtils.getInterpretedOrdering(keyType)
    val timeOrd  = TypeUtils.getInterpretedOrdering(timeType)
    val lKeyAt  = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTimeAt = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rKeyAt  = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTimeAt = right.output.indexWhere(_.exprId == rightTime.exprId)
    val rightWidth = right.output.size
    // Bind the output projection against the OUTER-JOIN schema (right side
    // forced nullable), not the right child's declared nullability: unmatched
    // left rows emit a null-filled right row, and a projection generated
    // without null checks for a non-nullable right column (e.g. a count()
    // aggregate) would read 0/garbage instead of NULL.
    val joinedSchema = left.output ++ right.output.map(_.withNullability(true))
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, joinedSchema)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)

      new Iterator[InternalRow] {
        // rHead references the child iterator's (possibly reused) row; it
        // is only retained until the next rIter.next() call, which is the
        // contract reused UnsafeRows require. candidate is always a copy.
        private var rHead: InternalRow = _
        private var rHeadValid = false
        private var candidate: InternalRow = _
        private var initialized = false

        private def advance(): Unit =
          if (rIter.hasNext) { rHead = rIter.next(); rHeadValid = true }
          else { rHead = null; rHeadValid = false }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          if (!initialized) { advance(); initialized = true }
          val lRow = lIter.next()
          if (lRow.isNullAt(lKeyAt) || lRow.isNullAt(lTimeAt)) {
            // null key never matches; null time has no strict-prior row
            return proj(joined(lRow, nullRight))
          }
          val lKey  = lRow.get(lKeyAt, keyType)
          val lTime = lRow.get(lTimeAt, timeType)
          // stale candidate from an earlier key
          if (candidate != null &&
              keyOrd.compare(candidate.get(rKeyAt, keyType), lKey) != 0) {
            candidate = null
          }
          // consume right rows strictly before (lKey, lTime) in the merge
          // order; the last same-key one seen is the as-of match
          var scanning = rHeadValid
          while (scanning) {
            if (rHead.isNullAt(rKeyAt) || rHead.isNullAt(rTimeAt)) {
              advance(); scanning = rHeadValid // unmatchable; nulls sort first
            } else {
              val kc = keyOrd.compare(rHead.get(rKeyAt, keyType), lKey)
              if (kc < 0) { advance(); scanning = rHeadValid }
              else if (kc == 0 &&
                  timeOrd.compare(rHead.get(rTimeAt, timeType), lTime) < 0) {
                candidate = rHead.copy(); advance(); scanning = rHeadValid
              } else scanning = false
            }
          }
          proj(joined(lRow, if (candidate != null) candidate else nullRight))
        }
      }
    }
  }
}

/** Column-API surface over the native operator. */
object AsofMergeJoin {

  /** Native-operator twin of [[graft.ops.AsofJoin.asofLastPrior]]: left
    * keeps all its columns; every right column except the key comes back
    * as `<prefix><name>` (the matched row's values, or null). The right
    * side is re-aliased first so a self-join (left and right derived from
    * the same scan) cannot carry duplicate attribute ids across the
    * operator boundary.
    */
  def asofLastPrior(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      prefix: String = "asof_"): DataFrame = {
    val spark = left.sparkSession
    GraftPlanBridge.addStrategy(spark, AsofJoinStrategy)
    // Prefixed right names must not shadow left columns: toDF would mint
    // duplicate names and the trailing drop/getField would be ambiguous.
    val prefixed = right.columns.toSeq
      .map(c => if (c == key) s"${prefix}__key" else s"$prefix$c")
    val clash = prefixed.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty,
      s"asofLastPrior: prefixed right column(s) ${clash.mkString(", ")} " +
        s"collide with left columns; pass a different prefix")
    // fresh exprIds on the right side (Alias mints new ids)
    val rightSafe = right.select(right.columns.toSeq.map(c => col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightSafe.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side side has no column '$n'"))
    val node = AsofJoinNode(
      attr(lPlan, key, "left"), attr(lPlan, time, "left"),
      attr(rPlan, key, "right"), attr(rPlan, time, "right"),
      lPlan, rPlan)
    val names = left.columns.toSeq ++ prefixed
    GraftPlanBridge.ofRows(spark, node)
      .toDF(names: _*)
      .drop(s"${prefix}__key")
  }
}
