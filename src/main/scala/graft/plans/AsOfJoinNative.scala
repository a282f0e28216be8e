package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** NATIVE as-of join — the full custom-operator stack (SURVEY.md §7.3
  * level (c)): a resolved [[AsOfJoinPlan]] logical node, a planner
  * [[AsOfJoinStrategy]], and a sort-merge [[AsOfJoinExec]] physical
  * operator.
  *
  * Semantics (identical to ops/AsOfJoin and DuckDB `ASOF LEFT JOIN`):
  * for every left row, the right row with equal keys and the greatest
  * time <= the left time; all right columns carried (null when no prior
  * row).
  *
  * Scale shape: ONE hash shuffle per side on the keys (declared via
  * `ClusteredDistribution`, so Catalyst plans/reuses the exchanges) and
  * one sort per side by (keys, time) (declared via
  * `requiredChildOrdering`); then a single streaming merge pass per
  * partition — no union row-stream doubling (the composed variant pays
  * that), no range-join blowup, O(1) state per key. At 100 TB this is the
  * same exchange plan as a sort-merge equi-join.
  *
  * Constraints: key/time columns must be null-free (as-of semantics over
  * nulls are undefined here); time columns must be LongType (the engine's
  * epoch-micros convention: timestamps flow as integer epoch
  * microseconds).
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression
) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan
) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Both sides clustered on the join keys → Catalyst inserts (or reuses)
    * one hash exchange per side, exactly like a sort-merge equi-join.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys, time) ascending on both sides → the merge below is a single
    * forward pass.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val lOutput = left.output
    val rOutput = right.output
    val allOutput = output
    require(lTimeExpr.dataType == LongType && rTimeExpr.dataType == LongType,
      "as-of time columns must be LongType (epoch micros)")
    // keys must agree EXACTLY in type: the analyzer's implicit equi-join
    // casts never run for this node, and a mixed-width pair would (a)
    // hash-partition equal keys to different partitions (murmur3 of
    // int 5 != long 5) and (b) feed the left-typed comparator a
    // wrong-width right field — silent wrong results, so fail loudly
    lKeyExprs.zip(rKeyExprs).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"as-of key types must match exactly: ${lk.dataType} vs " +
          s"${rk.dataType} — cast both sides to a common type first")
    }
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // generated projections are created per partition (not serializable)
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOutput)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOutput)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOutput)
      // physical-operator contract: downstream consumers (collect's
      // getByteArrayRdd, shuffle's UnsafeRowSerializer) cast emitted rows
      // to UnsafeRow — every built-in join ends with this projection too
      val resultProj = UnsafeProjection.create(allOutput, allOutput)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val nullRight = new GenericInternalRow(rOutput.size)
      val joined = new JoinedRow

      // right-side cursor
      var rRow: InternalRow = null
      var rKey: UnsafeRow = null
      var rTime = 0L
      def advanceRight(): Unit =
        if (rIter.hasNext) {
          rRow = rIter.next()
          rKey = rKeyProj(rRow)
          rTime = rTimeProj(rRow).getLong(0)
        } else rRow = null
      advanceRight()

      // latest right row at-or-before the current left position
      var matched: InternalRow = null
      var matchedKey: UnsafeRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTime = lTimeProj(lRow).getLong(0)
        var cmp = if (rRow == null) 1 else keyOrd.compare(rKey, lKey)
        // consume every right row at-or-before (lKey, lTime); the last
        // one with an equal key is the as-of match
        while (rRow != null && (cmp < 0 || (cmp == 0 && rTime <= lTime))) {
          if (cmp == 0) {
            matched = rRow.copy()
            matchedKey = rKey.copy()
          }
          advanceRight()
          if (rRow != null) cmp = keyOrd.compare(rKey, lKey)
        }
        if (matched != null && keyOrd.compare(matchedKey, lKey) == 0)
          resultProj(joined(lRow, matched))
        else resultProj(joined(lRow, nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over the native operator. Registers the strategy
  * on the session's experimental methods (idempotent), so it works
  * whether or not the session was built with `graft.GraftExtensions`.
  */
object AsOfJoinNative {
  def asOf(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String
  ): DataFrame = {
    val spark =
      left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = left.queryExecution.analyzed
    // Re-alias every right column to a FRESH exprId. In a self-join shape
    // (both sides derived from the same DataFrame) the raw plans share
    // attribute ids; the analyzer's DeduplicateRelations re-keys the right
    // subtree but cannot rewrite this node's key expressions (the old id
    // still legitimately resolves against the left side), which would
    // leave rightKeys pointing at the LEFT child and get the right child
    // column-pruned out from under the exec.
    val rAliased = right.select(
      right.columns.map(c =>
        org.apache.spark.sql.functions.col(c).as(c)): _*)
    val rPlan = rAliased.queryExecution.analyzed
    // resolve names with the session's resolver (case-insensitive under
    // the default spark.sql.caseSensitive=false, like every built-in API)
    val resolver = spark.sessionState.conf.resolver
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val node = AsOfJoinPlan(lPlan, rPlan,
      keyCols.map(attr(lPlan, _)), keyCols.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark, node)
  }
}
