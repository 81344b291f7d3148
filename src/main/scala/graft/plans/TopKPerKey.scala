package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension surface (SURVEY §7.3 tier (c)): a custom
  * logical node + planner strategy + physical operator for per-key top-K.
  *
  * `row_number().over(partitionBy(keys).orderBy(...)) <= k` plans as
  * shuffle → sort by (keys ++ order) → window (which BUFFERS each key
  * group) → rank filter: every group is materialized and fully ordered
  * even though only k rows survive. This operator instead asks
  * EnsureRequirements for the same shuffle plus a KEYS-ONLY sort (which
  * Spark's external sorter spills as needed), then streams each key
  * group through ONE bounded k-row heap: O(group·log k) heap time on a
  * narrower sort key, no group buffering, and — the round-3 review
  * point — operator memory is O(k) regardless of per-partition key
  * cardinality, because at most one group's heap is ever resident.
  * Output is bit-identical to the window formulation (rank column
  * included) whenever the order is total; under order ties both
  * formulations pick an arbitrary representative.
  *
  * The reference's tophits (`bigbugdata.py:176–183`) is exactly this
  * shape; the oracle-paired q44 pins the operator against q8's window
  * formulation and the same DuckDB SQL.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    // constructor parameter (not a body val): tree copies during analysis/
    // optimization must KEEP the output attribute's exprId, or references
    // resolved against this node dangle after the first transform
    rankAttr: AttributeReference =
      AttributeReference("rk", LongType, nullable = false)()) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKey {

  /** Wrap `df` with the native operator: registers the strategy on the
    * DataFrame's session (the one place it is installed), resolves
    * key/order attributes by name, and exposes the rank as column `rk`
    * (long). `order` entries are (columnName, ascending). */
  def of(df: org.apache.spark.sql.DataFrame, keyNames: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val s = df.sparkSession
    if (!s.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ TopKPerKeyStrategy
    val plan = df.queryExecution.analyzed
    def a(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(", ")}"))
    org.apache.spark.sql.GraftBridge.ofRows(s,
      TopKPerKey(keyNames.map(a),
        orderSpec.map { case (n, asc) =>
          SortOrder(a(n), if (asc) Ascending else Descending) },
        k, plan))
  }
}

/** planner strategy: logical TopKPerKey → physical TopKPerKeyExec */
object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKey =>
      TopKPerKeyExec(t.keys, t.order, t.k, t.rankAttr, planLater(t.child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)

  /** one shuffle on the grouping keys — same boundary the window form
    * needs, inserted by EnsureRequirements */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  /** keys-only sort (narrower than the window's keys ++ order sort):
    * groups arrive contiguous, so one heap at a time suffices. The sort
    * itself runs in Spark's external sorter, which spills — the operator
    * adds O(k) memory on top, for ANY key cardinality. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    keys.map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** rows emit grouped in key order — downstream sorts on the keys alone
    * can be elided */
  override def outputOrdering: Seq[SortOrder] =
    keys.map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val outputLocal = output
    val kLocal = k
    val orderLocal = order
    val keysLocal = keys
    child.execute().mapPartitions { iter =>
      // k <= 0 means "keep nothing" — the window formulation returns an
      // empty frame for it, so the heap path must too
      if (kLocal <= 0) Iterator.empty
      else {
        val keyProj = UnsafeProjection.create(keysLocal, childOutput)
        val ordering = GenerateOrdering.generate(orderLocal, childOutput)
        val outProj = UnsafeProjection.create(outputLocal, outputLocal)
        val joined = new JoinedRow
        val input = iter.buffered
        new Iterator[InternalRow] {
          // the single resident heap: max-heap under the rank ordering
          // (head = worst kept row), never more than k entries
          private var out: Iterator[InternalRow] = Iterator.empty

          override def hasNext: Boolean = {
            while (!out.hasNext && input.hasNext) {
              val groupKey = keyProj(input.head).copy()
              val heap = scala.collection.mutable.PriorityQueue
                .empty[InternalRow](ordering)
              // consume the whole contiguous key group
              var more = true
              while (more && input.hasNext) {
                if (keyProj(input.head) == groupKey) {
                  val row = input.next()
                  if (heap.size < kLocal) heap.enqueue(row.copy())
                  else if (ordering.compare(row, heap.head) < 0) {
                    heap.dequeue(); heap.enqueue(row.copy())
                  }
                } else more = false
              }
              // dequeueAll yields worst→best; reverse for rank 1..m
              val best: Seq[InternalRow] = heap.dequeueAll.reverse
              out = best.iterator.zipWithIndex.map { case (row, i) =>
                outProj(joined(row,
                  new GenericInternalRow(Array[Any]((i + 1).toLong))))
              }
            }
            out.hasNext
          }

          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            out.next()
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
