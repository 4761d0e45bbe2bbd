package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The whole-operator Catalyst tier for the as-of join (SURVEY §7.5
  * tier (c)): a custom LOGICAL node, a planner STRATEGY, and a custom
  * PHYSICAL operator that executes the join as a single co-partitioned
  * sorted-merge pass — the plan a time-series engine uses natively.
  *
  * Versus the union+window spelling (`operators/AsOfJoin`, the tier-(a)
  * composition): that plan shuffles the UNION of both sides into one
  * exchange, widens every row to the union schema (left columns carried
  * as nulls on right rows and vice versa), and runs a window with
  * running-`last` state. This operator shuffles each side separately on
  * its own key, sorts each side narrow, and then streams BOTH sorted
  * iterators through an O(|L|+|R|) merge with O(1) state per partition
  * (one buffered match row) — no widened rows ever exist, and the merge
  * never materializes a frame. Same two-big-shuffle worst case, but
  * strictly less exchanged bytes and no window buffer; at 100 TB the
  * narrow right side (key, ts, payload) is a fraction of the widened
  * union row stream.
  *
  * Semantics are exactly [[graft.operators.AsOfJoin.leftAsOf]]'s
  * backward as-of: for each left row, the right row with the same key
  * and the greatest `rightTs <= leftTs`, ties on the timestamp broken
  * by the LARGEST tie-break value; left rows with a null key or null
  * timestamp keep a null payload; right rows with a null key, ts, or
  * tie-break can never match (filtered before the shuffle). The merge
  * realizes the tie rule for free: the right side is sorted (key, ts,
  * tie) ascending and "last row seen at-or-before" wins.
  *
  * The distribution requirement pins `requiredNumPartitions` on BOTH
  * children so the two exchanges can never be coalesced to different
  * partition counts (AQE coalesces per-stage; the pin makes
  * co-partitioning a static property `zipPartitions` can rely on).
  */
case class AsOfMergeJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    tie: Attribute,
    payload: Seq[Attribute],
    payloadOut: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut

  /** payloadOut attrs are introduced here, not drawn from children. */
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMergeJoin =
    copy(left = newLeft, right = newRight)
}

/** Lowers the logical node; `planLater` hands the children back to the
  * planner so every child strategy (scans, filters, AQE) still applies.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfMergeJoin =>
      AsOfMergeJoinExec(j.leftKey, j.rightKey, j.leftTs, j.rightTs, j.tie,
        j.payload, j.payloadOut, planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfMergeJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    tie: Expression,
    payload: Seq[Expression],
    payloadOut: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // pin the partition count (see scaladoc above): both exchanges land on
  // the same, never-coalesced count, so partitions zip 1:1
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = Some(conf.numShufflePartitions)
    ClusteredDistribution(Seq(leftKey), requiredNumPartitions = n) ::
      ClusteredDistribution(Seq(rightKey), requiredNumPartitions = n) :: Nil
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(tie, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExpr = leftKey
    val rKeyExpr = rightKey
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val payloadExprs = payload
    val outAttrs = output
    val keyType = leftKey.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(Seq(lKeyExpr), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKeyExpr), rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val payloadProj = UnsafeProjection.create(payloadExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val nullPayload = new GenericInternalRow(payloadExprs.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIter.buffered
      // O(1) merge state: the last right row (payload + key, copied out
      // of the projection buffers) that any already-seen left row could
      // match. Monotone left (key, ts) order means it only ever advances.
      var matchPayload: UnsafeRow = null
      var matchKey: UnsafeRow = null
      lIter.map { lrow =>
        val lKeyRow = lKeyProj(lrow)
        val lKeyNull = lKeyRow.isNullAt(0)
        val lTsRow = lTsProj(lrow)
        val lTsNull = lTsRow.isNullAt(0)
        if (!lKeyNull && !lTsNull) {
          val lts = lTsRow.getLong(0)
          var advance = true
          while (advance && rBuf.hasNext) {
            val rKeyRow = rKeyProj(rBuf.head)
            // right null keys are filtered in the builder; treat one
            // defensively as unmatchable-and-smaller (nulls sort first)
            val cmp = if (rKeyRow.isNullAt(0)) -1 else keyOrd.compare(rKeyRow, lKeyRow)
            if (cmp < 0) { rBuf.next() } // right key passed: discard
            else if (cmp == 0) {
              val rTsRow = rTsProj(rBuf.head)
              if (!rTsRow.isNullAt(0) && rTsRow.getLong(0) <= lts) {
                // candidate at-or-before: remember it (later rows in
                // (ts, tie) order overwrite → greatest-ts-largest-tie wins)
                matchPayload = payloadProj(rBuf.head).copy()
                matchKey = rKeyRow.copy()
                rBuf.next()
              } else advance = false // first right beyond lts: stop
            } else advance = false // right key ahead: stop
          }
        }
        val matched = !lKeyNull && !lTsNull && matchKey != null &&
          keyOrd.compare(matchKey, lKeyRow) == 0
        resultProj(joined(lrow, if (matched) matchPayload else nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level builder; installs [[AsOfJoinStrategy]] on the
  * session through [[GraftRules.install]] (strategies only).
  */
object AsOfMerge {

  /** Backward as-of through the custom operator — same signature and
    * semantics as [[graft.operators.AsOfJoin.leftAsOf]]; payload columns
    * come back as `asof_<name>`, nullable.
    */
  def leftAsOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      tieBreak: String,
      payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    GraftRules.install(spark)
    val lTsType = left.schema(leftTs).dataType
    require(lTsType == TimestampType || lTsType == LongType,
      s"leftTs must be timestamp/long-backed, got $lTsType")
    // right rows that can never match (null key/ts/tie) drop before the
    // shuffle; the right ts is cast to the LEFT ts type once here so the
    // merge compares raw longs (date→timestamp uses the session TZ,
    // matching the union+window spelling's implicit union coercion)
    val matchable = right
      .filter(col(rightKey).isNotNull && col(rightTs).isNotNull &&
        col(tieBreak).isNotNull)
      .withColumn("__rts", col(rightTs).cast(lTsType))
    val lp = left.queryExecution.analyzed
    val rp = matchable.queryExecution.analyzed
    def attr(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(sys.error(s"as-of: no column '$n'"))
    val lk = attr(lp.output, leftKey)
    val rk = attr(rp.output, rightKey)
    require(lk.dataType == rk.dataType,
      s"as-of key types differ: ${lk.dataType} vs ${rk.dataType}")
    val payloadAttrs = payload.map(attr(rp.output, _))
    val payloadOut = payloadAttrs.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    GraftShims.ofRows(spark, AsOfMergeJoin(lp, rp, lk, rk,
      attr(lp.output, leftTs), attr(rp.output, "__rts"),
      attr(rp.output, tieBreak), payloadAttrs, payloadOut))
  }
}
