package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Concat, Expression, Greatest, If, IsNull, Least, LessThanOrEqual, Literal, Or, RaiseError}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Second-smallest value of a group in ONE aggregation pass
  * (`graft_min2`) — a [[DeclarativeAggregate]], so it partial-
  * aggregates map-side and merges like `min` itself: no window, no
  * sort, no second pass over the input, and therefore immune to the
  * skewed-group trap of a `row_number` formulation (a window group
  * cannot be split by AQE; a hot key serializes — measured 2.2×
  * WORSE on simhash's 22k-doc signature families, see
  * OPTIMIZATION_r17.md §11.2).
  *
  * Semantics: the second element of the group's multiset in ascending
  * order — on DISTINCT inputs (the dedup pipelines' unique doc ids)
  * exactly "the smallest value ≠ min", the old two-pass
  * join+filter+groupBy's answer; on inputs containing duplicates of
  * the minimum it returns that duplicate (multiset rank 2). NULL for
  * groups with fewer than two non-null values; null inputs are
  * ignored like every builtin aggregate.
  *
  * The buffer is (m1, m2) in the child's own type; update/merge are
  * pure Least/Greatest/If trees, so the whole aggregate stays inside
  * whole-stage codegen for any ordering-capable input type.
  */
case class MinTwo(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  override def prettyName: String = "graft_min2"
  override def nullable: Boolean = true
  override def dataType: DataType = child.dataType

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  private lazy val m1 = AttributeReference("m1", child.dataType)()
  private lazy val m2 = AttributeReference("m2", child.dataType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(m1, m2)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, child.dataType),
    Literal.create(null, child.dataType))

  // Least/Greatest skip nulls, so the only cases needing guards are
  // "ignore a null input row" and "the buffer is still empty" (m1
  // null ⇒ m2 must stay null rather than absorb the first value).
  // Both update expressions read the OLD buffer (Spark evaluates the
  // row before storing), so m2's Greatest(m1, child) sees pre-update
  // m1: the value pushed out of (or bouncing off) the minimum slot.
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), m1, Least(Seq(m1, child))),
    If(Or(IsNull(child), IsNull(m1)), m2,
      Least(Seq(m2, Greatest(Seq(m1, child))))))

  // Merging two buffers: the combined second-smallest is the least of
  // both m2s and the LARGER of the two m1s (the smaller m1 wins the
  // minimum slot; the other m1 re-enters the race for second). An
  // empty side contributes nothing — take the other side's m2 as-is.
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Least(Seq(m1.left, m1.right)),
    If(IsNull(m1.left), m2.right,
      If(IsNull(m1.right), m2.left,
        Least(Seq(m2.left, m2.right, Greatest(Seq(m1.left, m1.right)))))))

  override lazy val evaluateExpression: Expression = m2

  override protected def withNewChildInternal(newChild: Expression): MinTwo =
    copy(child = newChild)
}

/** Sum of the `k` largest values of a group of POSITIVE longs in ONE
  * aggregation pass (`graft_topksum`) — the [[DeclarativeAggregate]]
  * replacement for the `row_number <= k` window + groupBy-sum shape
  * the margin miners used for their k-NN cosine rollups: it partial-
  * aggregates map-side and merges like `max`, so the candidate pair
  * set is never sorted and the exchange carries one k-slot buffer per
  * key instead of top-k rows per map partition.
  *
  * Exactness vs the window form: the window's tie-break (by the other
  * side's id) picks WHICH rows survive, but their VALUES are equal by
  * definition of a tie, so the top-k SUM is tie-insensitive — both
  * forms return the sum of the k largest elements of the multiset.
  *
  * Contract: inputs must be > 0 (the buffer pads with zeros, so a
  * non-positive input would be lost among the padding); an input ≤ 0
  * fails the query with an error naming the contract. Groups with
  * fewer than k values sum what they have. Nulls are ignored like
  * every builtin aggregate. k is a literal, 1 ≤ k ≤ 8.
  *
  * Buffer: k slots s1 ≥ s2 ≥ … ≥ sk (longs, zero-initialized).
  * update inserts the value into the sorted slots; merge takes the
  * top-k of the two sorted slot lists via the max-of-mins identity
  * c_i = max_{j+l=i} min(a_j, b_l) (a_0 = b_0 = +∞). Pure
  * Greatest/Least/If trees — stays in whole-stage codegen.
  */
case class TopKPosSum(child: Expression, k: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  require(k >= 1 && k <= 8, s"graft_topksum supports k in [1, 8], got $k")
  override def prettyName: String = "graft_topksum"
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BIGINT input")

  private lazy val slots = Seq.tabulate(k)(i =>
    AttributeReference(s"s${i + 1}", LongType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(k)(Literal(0L))

  // the contract check rides the first slot's update (every slot's
  // update runs on every row), as a RaiseError branch inside codegen
  private lazy val checked: Expression = If(LessThanOrEqual(child, Literal(0L)),
    RaiseError(Concat(Seq(
      Literal(s"$prettyName requires inputs > 0, got "), Cast(child, StringType))))
      .copy(dataType = LongType),
    child)

  // insert child into the descending slot list: s1' = max(s1, x),
  // s_i' = max(s_i, min(s_{i-1}, x)) — the value cascades down past
  // every slot it cannot beat. Null inputs leave the buffer unchanged.
  override lazy val updateExpressions: Seq[Expression] =
    slots.zipWithIndex.map { case (s, i) =>
      val ins = if (i == 0) Greatest(Seq(s, checked))
                else Greatest(Seq(s, Least(Seq(slots(i - 1), child))))
      If(IsNull(child), s, ins)
    }

  // c_i = max over j+l = i (j,l >= 0) of min(a_j, b_l), a_0 = b_0 = +inf
  override lazy val mergeExpressions: Seq[Expression] =
    Seq.tabulate(k) { i0 =>
      val i = i0 + 1
      val cands = (0 to i).flatMap { l =>
        val j = i - l
        if (j > k || l > k) None
        else if (j == 0) Some(slots(l - 1).right)
        else if (l == 0) Some(slots(j - 1).left)
        else Some(Least(Seq(slots(j - 1).left, slots(l - 1).right)))
      }
      Greatest(cands): Expression
    }

  override lazy val evaluateExpression: Expression =
    slots.map(s => s: Expression).reduce(org.apache.spark.sql.catalyst.expressions.Add(_, _))

  override protected def withNewChildInternal(newChild: Expression): TopKPosSum =
    copy(child = newChild)
}
