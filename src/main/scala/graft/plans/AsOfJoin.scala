package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF JOIN — the §2 "custom whole-operator" extension path
  * ((c) in the brief's preference order): a logical node, a planner
  * Strategy, and a physical operator registered through the session's
  * extension points, for the one temporal-join shape Spark's operator
  * set lacks as a primitive. q55 composes the semantics from a window
  * (one sort, IGNORE-NULLS running last); this is the same cost shape
  * — co-partition by key, sort by (key, time), ONE forward merge pass
  * per partition — but as a first-class operator: no synthetic
  * union/window column plumbing, left rows stream through unmodified,
  * and per-partition state is ONE retained right row (the window form
  * materializes its running-last frame machinery per row).
  *
  * Semantics: left outer; for each left row, the single right row of
  * the same key with the greatest `rightTime` strictly below
  * `leftTime`, ties on time broken by the greatest `rightTieBreak`.
  * Unmatched left rows null-pad the right side.
  *
  * Scale posture: identical to a sort-merge join's — both sides hash
  * by key (`ClusteredDistribution` with a pinned partition count, so
  * AQE cannot coalesce the two sides differently and the zipped
  * iteration stays aligned), intra-partition sort by (key, time), and
  * the merge is O(|left|+|right|) with O(1) state. No window frames,
  * no per-key buffering beyond the single candidate row.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.graftbridge.Bridge

  /** DataFrame-level surface: left-outer as-of join of `left` to
    * `right` on equal `key`, matching the greatest `rightTime`
    * strictly below `leftTime` (time ties broken by the greatest
    * `rightTieBreak`). Column names must not collide across sides —
    * rename the right side first. Installs [[AsOfJoinStrategy]] into
    * the session's experimental strategies if absent (idempotent).
    */
  def join(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      rightTieBreak: String): DataFrame = {
    val s: SparkSession = left.sparkSession
    if (!s.experimental.extraStrategies.contains(AsOfJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"as-of join: no column $name in ${p.output.map(_.name)}"))
    Bridge.ofRows(s, AsOfJoin(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      attr(rPlan, rightTieBreak)))
  }
}

/** Plans [[AsOfJoin]] into [[AsOfJoinExec]]; [[AsOfJoin.join]] injects
  * it via `experimental.extraStrategies` (per-session, no restart).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Pin the shuffle width: with a required partition count the
  // exchanges EnsureRequirements inserts are non-coalescable, so AQE
  // cannot shrink one side independently and break the zipped merge.
  private def pinnedParts: Int = conf.numShufflePartitions

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil,
      requiredNumPartitions = Some(pinnedParts)) ::
    ClusteredDistribution(rightKey :: Nil,
      requiredNumPartitions = Some(pinnedParts)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTieBreak, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey; val rk = rightKey
    val lt = leftTime; val rt = rightTime
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val nRight = rOut.length
    val schema = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(Seq(lk), lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val resultProj = UnsafeProjection.create(schema, schema)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      // one-row lookahead over the right side; `lastMatch` is the
      // single retained candidate for the current key — the O(1)
      // as-of state
      var rRow: InternalRow = null
      var rKeyVal: Any = null
      var rTimeVal: Any = null
      def advanceRight(): Unit =
        if (rIt.hasNext) {
          rRow = rIt.next()
          rKeyVal = rKeyProj(rRow).get(0, rk.dataType)
          rTimeVal = rTimeProj(rRow).get(0, rt.dataType)
        } else rRow = null
      advanceRight()
      var matchKey: Any = null
      var lastMatch: InternalRow = null
      lIt.map { lRow =>
        val lKeyVal = lKeyProj(lRow).copy().get(0, lk.dataType)
        val lTimeVal = lTimeProj(lRow).copy().get(0, lt.dataType)
        if (lKeyVal == null || lTimeVal == null) {
          // SQL semantics: a null key (or a null left time — nothing
          // can be strictly below NULL) matches nothing
          resultProj(joined(lRow, nullRight))
        } else {
          // consume right rows strictly below (key, time); the LAST
          // one consumed for this key is the greatest (time, tiebreak)
          // match, because the right side arrives sorted on exactly
          // that order. Null right keys/times (sorted first under the
          // Ascending child ordering) match nothing and are skipped.
          while (rRow != null && (rKeyVal == null || rTimeVal == null || {
            val kc = keyOrd.compare(rKeyVal, lKeyVal)
            kc < 0 || (kc == 0 && timeOrd.compare(rTimeVal, lTimeVal) < 0)
          })) {
            if (rKeyVal != null && rTimeVal != null &&
                keyOrd.compare(rKeyVal, lKeyVal) == 0) {
              matchKey = lKeyVal
              lastMatch = rRow.copy()
            }
            advanceRight()
          }
          val matched = lastMatch != null && matchKey != null &&
            keyOrd.compare(matchKey, lKeyVal) == 0
          resultProj(joined(lRow, if (matched) lastMatch else nullRight))
        }
      }
    }
  }
}
