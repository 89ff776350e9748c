package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Whole-operator planner extension: the as-of join lowered through a
  * custom LogicalPlan + optimizer Rule + SparkStrategy + SparkPlan,
  * registered via [[GraftExtensions]] — the Catalyst rendition of the
  * reference's planner extension point (reference
  * src/query_planner/mod.rs:30-133, which maps each logical node to a
  * physical operator; here the mapping is a Strategy and the physical
  * operator declares its distribution/ordering requirements instead of
  * hand-scheduling them).
  *
  * Physical design (the 100-TB shape): both sides hash-partition on
  * the key and sort by (key, time) — EnsureRequirements inserts
  * exactly one Exchange + Sort per side — then ONE forward-only merge
  * pass per partition attaches the latest right row at or before each
  * left row's time. No join explosion, no per-row range probe, no
  * buffering beyond a single carried right row.
  *
  * Output is byte-identical to the composed union+window formulation
  * ([[graft.ops.JoinOps.asofJoin]]) — gated by the shared
  * `q_asof_join` DuckDB ASOF JOIN oracle and a ScalaTest equivalence
  * check.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    asofAttrs: Seq[Attribute]) extends BinaryNode {

  require(leftKey.dataType == rightKey.dataType,
    s"key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"time types differ: ${leftTime.dataType} vs ${rightTime.dataType}" +
      " (cast one side first)")

  override def output: Seq[Attribute] = left.output ++ asofAttrs
  override def producedAttributes: AttributeSet = AttributeSet(asofAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Column pruning through the custom node: Catalyst's built-in
  * ColumnPruning does not know [[AsofJoinPlan]], so without this rule
  * a wide right side (say the full orders table) would be scanned in
  * full even though the join only consumes key + time + payload.
  * Inserting the Project here lets the file-source strategy push the
  * pruned schema all the way into the parquet scan. Idempotent: once
  * the right child's output IS the needed set, nothing changes. */
object AsofJoinRightPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case aj: AsofJoinPlan =>
      val needed = (Seq(aj.rightKey, aj.rightTime) ++ aj.payload).distinct
      if (aj.right.output.map(_.exprId) == needed.map(_.exprId)) aj
      else aj.copy(right = Project(needed, aj.right))
  }
}

/** Logical → physical: the reference's query_planner match arm, as a
  * Strategy. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case aj: AsofJoinPlan =>
      AsofJoinExec(planLater(aj.left), planLater(aj.right), aj.leftKey,
        aj.rightKey, aj.leftTime, aj.rightTime, aj.payload,
        aj.asofAttrs) :: Nil
    case _ => Nil
  }
}

/** Sorted-merge as-of join executor. Requires co-clustering on the key
  * and (key, time) sort within partitions — declared, not
  * hand-implemented, so EnsureRequirements plans the minimal Exchange
  * + Sort (and AQE can still re-plan them). */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    asofAttrs: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ asofAttrs
  override def producedAttributes: AttributeSet = AttributeSet(asofAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending) :: SortOrder(leftTime, Ascending) :: Nil,
      SortOrder(rightKey, Ascending) :: SortOrder(rightTime, Ascending) :: Nil)

  // left rows pass through in order, exactly once
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val lKeyB = BindReferences.bindReference(leftKey: Expression, left.output)
    val lTimeB = BindReferences.bindReference(leftTime: Expression, left.output)
    val rKeyB = BindReferences.bindReference(rightKey: Expression, right.output)
    val rTimeB = BindReferences.bindReference(rightTime: Expression, right.output)
    val payloadExprs = payload.map(p =>
      BindReferences.bindReference(p: Expression, right.output))
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val nPayload = payload.length
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(payloadExprs)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullPayload = new GenericInternalRow(nPayload)

      new Iterator[InternalRow] {
        private var rRow: InternalRow =
          if (rIter.hasNext) rIter.next() else null
        // latest right row at-or-before the current left time, per key
        private var storedKey: Any = null
        private var storedPayload: InternalRow = null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyB.eval(l)
          val lt = lTimeB.eval(l)
          if (lk == null || lt == null) {
            resultProj(joined(l, nullPayload))
          } else {
            // advance the right cursor past every row that can no
            // longer match a future left row (keys and times are
            // ascending on both sides), remembering the latest
            // same-key row with time <= left time
            var advancing = true
            while (advancing && rRow != null) {
              val rk = rKeyB.eval(rRow)
              if (rk == null || keyOrd.compare(rk, lk) < 0) {
                rRow = if (rIter.hasNext) rIter.next() else null
              } else if (keyOrd.compare(rk, lk) == 0) {
                val rt = rTimeB.eval(rRow)
                if (rt != null && timeOrd.compare(rt, lt) <= 0) {
                  storedKey = rk
                  storedPayload = payloadProj(rRow).copy()
                  rRow = if (rIter.hasNext) rIter.next() else null
                } else if (rt == null) {
                  rRow = if (rIter.hasNext) rIter.next() else null
                } else {
                  advancing = false
                }
              } else {
                advancing = false
              }
            }
            val p =
              if (storedKey != null && keyOrd.compare(storedKey, lk) == 0)
                storedPayload
              else nullPayload
            resultProj(joined(l, p))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {
  /** As-of (left-outer) join through the custom planner path: for each
    * left row, the most recent right row with the same key whose time
    * is <= the left row's time; unmatched left rows keep null payload.
    * Key and time columns must have identical types on both sides
    * (cast first). Pre-dedupe the right side on (key, time) for fully
    * deterministic output — same contract as
    * [[graft.ops.JoinOps.asofJoin]]. */
  def asofJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String]): DataFrame = {
    val lPlan = DatasetBridge.analyzed(left)
    val rPlan = DatasetBridge.analyzed(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    val payload = rightCols.map(attr(rPlan, _))
    val asofAttrs = payload.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    DatasetBridge.ofRows(spark, AsofJoinPlan(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime), payload, asofAttrs))
  }
}
