package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator Catalyst tier (builder preference (c)): per-key top-k
  * as a custom logical node + planner strategy + physical operator.
  *
  * The DataFrame formulation — `row_number().over(partitionBy(keys)
  * .orderBy(order)) <= k` — shuffles EVERY row, then fully sorts every
  * key group (WindowExec): O(n log n) per partition on the post-shuffle
  * size. This operator instead:
  *
  *  1. PARTIAL stage (pre-shuffle): each input partition reduces to at
  *     most k rows per key with a bounded heap — the map-side combine
  *     that windows cannot do. Shuffled bytes shrink from n to
  *     ≤ k · distinct-keys-per-partition.
  *  2. FINAL stage (post-shuffle, Spark inserts the exchange from
  *     `requiredChildDistribution`): the same bounded-heap pass merges
  *     the partial winners, O(n log k).
  *
  * Top-k is a semigroup (global top-k ⊆ union of per-partition top-k),
  * which makes the two-phase split safe. `order` must be a TOTAL order
  * per key group (include a unique tiebreaker) or ties are resolved
  * arbitrarily — same contract as [[graft.operators.Dedup.keepFirst]].
  * Output rows are the top-k SET per key, in no particular order (the
  * window's `__rn` column is not materialized).
  */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"top-k requires k >= 1, got $k")
  require(keys.nonEmpty, "top-k requires at least one key")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // rows stay in their input partition (`preservesPartitioning` below),
  // so a window over the same keys after the final stage needs no
  // second exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  protected override def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val orderExprs = order
    val limit = k
    val childOutput = child.output
    // PARTIAL-stage memory bound (SCALING design note resolved): the
    // per-partition state is `keys-held · k` rows; when distinct keys
    // per input partition outgrow this budget, holding them all is the
    // OOM. Because top-k is a semigroup, the partial stage may emit its
    // current winners ANY number of times per key and stay correct —
    // the final stage re-reduces every candidate per key. So over
    // budget it FLUSHES: hands the held winners downstream, clears the
    // map, and keeps consuming — the same degrade-don't-die evolution
    // partial HashAggregate took (emit groups under pressure; only the
    // post-shuffle final stage holds the true reduced state, whose
    // bound is the output itself). Shuffled bytes rise toward the
    // unreduced input as the budget shrinks; correctness never moves.
    // The FINAL stage never flushes — its contract is one top-k set
    // per key.
    val maxKeys =
      if (!partial) Int.MaxValue
      else conf.getConfString(TopKPerKeyExec.PartialMaxKeysKey,
        TopKPerKeyExec.PartialMaxKeysDefault.toString).toInt
    require(maxKeys >= 1, s"partial key budget must be >= 1, got $maxKeys")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = GenerateOrdering.generate(orderExprs, childOutput)
      import scala.jdk.CollectionConverters._
      // consume until the key budget fills (or input ends), then hand
      // off everything held; repeat — bounded memory, streamed output
      def budgeted(held: () => Int, insert: InternalRow => Unit,
          drain: () => Array[InternalRow]): Iterator[InternalRow] =
        new Iterator[Iterator[InternalRow]] {
          override def hasNext: Boolean = iter.hasNext || held() > 0
          override def next(): Iterator[InternalRow] = {
            while (iter.hasNext && held() < maxKeys) insert(iter.next())
            drain().iterator
          }
        }.flatten
      if (limit == 1) {
        // the dedup-keep-first staple: one best row per key, no heap —
        // a per-key PriorityQueue costs an object + array allocation
        // per key, measurable at millions of keys
        val best = new java.util.HashMap[UnsafeRow, InternalRow]()
        budgeted(() => best.size(), { row =>
          val key = keyProj(row)
          val cur = best.get(key)
          if (cur == null) best.put(key.copy(), row.copy())
          else if (ordering.compare(row, cur) < 0) best.put(key, row.copy())
        }, () => {
          val out = best.values().iterator().asScala.toArray
          best.clear()
          out
        })
      } else {
        // per key: a max-heap of the kept rows under `ordering`, so the
        // heap root is the WORST kept row — O(log k) replacement test
        val heaps = new java.util.HashMap[UnsafeRow,
          java.util.PriorityQueue[InternalRow]]()
        budgeted(() => heaps.size(), { row =>
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[InternalRow](
              limit, ordering.reversed())
            heaps.put(key.copy(), heap)
          }
          if (heap.size < limit) {
            heap.add(row.copy())
          } else if (ordering.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.copy())
          }
        }, () => {
          val flushed = heaps.values().iterator().asScala
            .flatMap(_.iterator().asScala).toArray
          heaps.clear()
          flushed
        })
      }
    }, preservesPartitioning = true)
  }

  protected override def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Partial-stage key budget: max distinct keys held per input
    * partition before a flush (state ≈ budget · k rows). The default
    * bounds partial state to ~a few hundred MB for typical row widths
    * while leaving map-side reduction intact for every realistic key
    * density; shrink it to force the flush path (the spec does).
    */
  val PartialMaxKeysKey = "spark.graft.topk.partialMaxKeys"
  val PartialMaxKeysDefault: Int = 1 << 20
}

/** Plans the logical node as partial → (exchange) → final. */
object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}
