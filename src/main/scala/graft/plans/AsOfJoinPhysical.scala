package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator extension point (SURVEY.md §2 custom-operator
  * preference (c)): the as-of join as a first-class plan node — a custom
  * `LogicalPlan` + planner `SparkStrategy` + physical `SparkPlan` —
  * instead of the union+window composition in [[graft.ops.AsOfJoin]]
  * (which stays as the semantic cross-check).
  *
  * Why a physical operator when the composition already works: the
  * union+window form materializes BOTH sides into one sorted partition
  * stream and carries every left column through the window (nulls on
  * right rows), i.e. the sort buffers |left|+|right| rows of the WIDE
  * union schema per key partition. This exec sorts each side in its own
  * (narrow) schema and streams a single forward merge per partition —
  * same two shuffles, strictly less sort I/O, zero carried null columns,
  * and O(1) state per partition (one held match). That is the shape a
  * 100 TB market-data/CDC lookup needs.
  *
  * Planning contract: `requiredChildDistribution` (clustered on the key)
  * and `requiredChildOrdering` ((key, ts) ascending) let EnsureRequirements
  * insert exactly one exchange + sort per side — partitioning and
  * ordering are DECLARED, so Catalyst/AQE may elide the shuffle when a
  * child is already co-partitioned (e.g. bucketed tables).
  *
  * Matching semantics (equal to [[graft.ops.AsOfJoin.asOf]] and DuckDB
  * `ASOF LEFT JOIN`): backward = latest right row of the same key with
  * `rightTs <= leftTs`; forward = earliest with `rightTs >= leftTs`;
  * nearest = whichever of those two is closer in time, ties to backward
  * (pandas merge_asof convention — the merge holds the backward
  * candidate AND peeks the forward head, still O(1) state);
  * unmatched left rows keep nulls. Ties at equal ts: the last tied right
  * row in sort order (same row the window's `last()` sees). NULL keys or
  * timestamps never match (SQL join semantics; the window composition
  * instead groups NULL keys together — documented divergence, exercised
  * in PhysicalAsOfJoinSpec).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    // plain attributes, not Aliases: the analyzer's CleanupAliases rule
    // strips non-top-level Aliases from every non-Project operator, so
    // any renaming (asof_*) must happen in a Project ABOVE this node
    rightVals: Seq[Attribute],
    direction: String)
    extends BinaryNode {
  require(AsOfJoinNode.Directions(direction),
    s"direction must be one of ${AsOfJoinNode.Directions}, got $direction")
  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Per-partition streaming sort-merge as-of join. Children arrive
  * co-partitioned by key and sorted by (key, ts) — this node only merges:
  * one buffered pass over the right iterator per partition, holding at
  * most one candidate match (backward) or peeking the head (forward).
  * Interpreted (non-codegen) by design — the merge is iterator control
  * flow, not expression arithmetic; the projections it applies ARE
  * code-generated (`UnsafeProjection.create`).
  */
object AsOfJoinNode {
  val Directions: Set[String] = Set("backward", "forward", "nearest")
}

case class AsOfJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    rightVals: Seq[Attribute],
    direction: String,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  // left rows pass through in order: left's partitioning/ordering survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val (lOut, rOut) = (left.output, right.output)
    val (lKey, rKey, lTs, rTs) = (leftKey, rightKey, leftTs, rightTs)
    val (vals, dir, allOut) = (rightVals, direction, output)
    // nearest needs a numeric time distance, not just an ordering: map
    // the ts's internal value to micros/days/number once per partition
    val tsToNum: Any => Double = leftTs.dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        v => v.asInstanceOf[Long].toDouble
      case org.apache.spark.sql.types.DateType => v => v.asInstanceOf[Int].toDouble
      case org.apache.spark.sql.types.LongType => v => v.asInstanceOf[Long].toDouble
      case org.apache.spark.sql.types.IntegerType => v => v.asInstanceOf[Int].toDouble
      case org.apache.spark.sql.types.DoubleType => v => v.asInstanceOf[Double]
      case org.apache.spark.sql.types.FloatType => v => v.asInstanceOf[Float].toDouble
      case other =>
        if (dir == "nearest")
          throw new IllegalArgumentException(s"nearest as-of needs a temporal/numeric ts, got $other")
        else _ => 0.0
    }
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // built per-partition: codegen'd projections are not serializable
      val lKeyB = BindReferences.bindReference(lKey, lOut)
      val rKeyB = BindReferences.bindReference(rKey, rOut)
      val lTsB = BindReferences.bindReference(lTs, lOut)
      val rTsB = BindReferences.bindReference(rTs, rOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(lKey.dataType)
      val tsOrd = TypeUtils.getInterpretedOrdering(lTs.dataType)
      val lKeyProj = UnsafeProjection.create(Seq(lKey), lOut)
      val valsProj = UnsafeProjection.create(vals, rOut)
      val resultProj = UnsafeProjection.create(allOut, allOut)
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(vals.length)
      val rBuf = rIter.buffered

      // backward state: the latest qualifying right row seen for heldKey.
      // Consumed right rows are gone, so the match must be copied out of
      // the iterator's reused buffers; one row of state, O(1).
      var heldKey: UnsafeRow = null
      var heldVals: InternalRow = null
      var heldTs: Any = null

      lIter.map { lRow =>
        val lk = lKeyB.eval(lRow)
        val lts = lTsB.eval(lRow)
        var matched: InternalRow = null
        if (lk != null && lts != null) {
          val lkRow = lKeyProj(lRow)
          if (heldKey != null && heldKey != lkRow) {
            heldKey = null; heldVals = null; heldTs = null
          }
          var advance = true
          while (advance && rBuf.hasNext) {
            val rRow = rBuf.head
            val rk = rKeyB.eval(rRow)
            val rts = if (rk == null) null else rTsB.eval(rRow)
            if (rk == null || rts == null) rBuf.next() // never matches; sorted first
            else {
              val c = keyOrd.compare(rk, lk)
              if (c < 0) rBuf.next() // behind every remaining left key's rows
              else if (c > 0) advance = false
              else if (dir != "forward") {
                // backward AND nearest consume at-or-before rows, holding
                // the latest; the un-consumed head is then exactly the
                // forward candidate nearest needs
                if (tsOrd.compare(rts, lts) <= 0) {
                  heldVals = valsProj(rBuf.next()).copy()
                  heldTs = rts
                  if (heldKey == null) heldKey = lkRow.copy()
                } else advance = false
              } else {
                if (tsOrd.compare(rts, lts) < 0) rBuf.next()
                else advance = false // head IS the earliest at-or-after match
              }
            }
          }
          val backMatch =
            if (dir != "forward" && heldKey != null && heldKey == lkRow) heldVals
            else null
          var fwdMatch: InternalRow = null
          var fwdTs: Any = null
          if (dir != "backward" && rBuf.hasNext) {
            val rRow = rBuf.head
            val rk = rKeyB.eval(rRow)
            // head not consumed: it may also match later left rows
            if (rk != null && keyOrd.compare(rk, lk) == 0) {
              fwdMatch = valsProj(rRow)
              if (dir == "nearest") fwdTs = rTsB.eval(rRow)
            }
          }
          matched = dir match {
            case "backward" => backMatch
            case "forward" => fwdMatch
            case _ => // nearest: closer side wins, ties backward
              if (backMatch == null) fwdMatch
              else if (fwdMatch == null) backMatch
              else if (tsToNum(lts) - tsToNum(heldTs) <= tsToNum(fwdTs) - tsToNum(lts))
                backMatch
              else fwdMatch
          }
        }
        numOutputRows += 1
        resultProj(joined(lRow, if (matched != null) matched else nullVals))
      }
    }
  }
}

/** Planner strategy mapping the logical [[AsOfJoinNode]] to
  * [[AsOfJoinExec]]. Injected by [[graft.GraftSession.install]]
  * (`spark.experimental.extraStrategies`) or
  * `spark.sql.extensions=graft.plans.GraftSparkExtensions`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, vals, dir) =>
      AsOfJoinExec(lk, rk, lts, rts, vals, dir, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}
