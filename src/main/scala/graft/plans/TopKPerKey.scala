package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BaseOrdering, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.PlanBridge

/** Per-key top-k as a first-class physical operator — the whole-operator
  * custom-plan path (LogicalPlan + SparkStrategy + SparkPlan, activated
  * through `GraftExtensions`' `injectPlannerStrategy` at session build).
  *
  * WHY an operator instead of the window form: `row_number() OVER
  * (PARTITION BY key ORDER BY ...) <= k` — the reference's own
  * latest-per-key idiom (flows/pipeline.py:189-203) and our W1/x26 — has no
  * partial phase: Spark shuffles EVERY row to its key's reducer, external-
  * sorts each reducer partition, then discards all but k rows per key. At
  * corpus scale that is a full-data shuffle + sort for an output of
  * |keys|·k rows. `TakeOrderedAndProject` (O2/x48's top-k) fixes exactly
  * this for the GLOBAL top-k — bounded heaps on the map side, only winners
  * cross the wire — but Spark has no per-key equivalent, so this operator
  * supplies it:
  *
  *   - map side: one pass per partition holding a bounded k-heap per key
  *     seen in that partition; emits ≤ k rows per (partition, key);
  *   - shuffle: only those candidates move (ENSURE_REQUIREMENTS exchange
  *     from the final node's ClusteredDistribution requirement);
  *   - reduce side: the same fold merges candidates to the exact per-key
  *     top-k.
  *
  * The algebra is the same map-side-combine argument as partial
  * aggregation: a k-heap is a semigroup fold, so partial heaps per
  * partition then a merge per key equals the single global fold. Shuffle
  * volume drops from |rows| to ≤ |map partitions|·|keys per partition|·k.
  *
  * MEMORY CONTRACT (the one constraint the window form does not have): the
  * map-side state is O(distinct keys in the partition × k) rows, never
  * spilled — right when keys are low-cardinality relative to rows (the
  * latest-N-per-user / top-N-per-group shapes this exists for), wrong for
  * near-unique keys, where the window form's external sort is the better
  * plan. Callers choose; the scaladoc IS the contract.
  *
  * Determinism: ties under `order` make the retained set nondeterministic
  * exactly as `row_number` ties do — declared queries append a unique
  * tie-break column (§2.10 discipline).
  */
object TopKPerKey {

  /** Logical node: `output` = child's, k rows per distinct key under
    * `order`. Nothing is resolved here beyond the child — keys/order are
    * bound against the child's analyzed output before construction.
    */
  final case class TopKPerKeyNode(
      keys: Seq[Expression], order: Seq[SortOrder], k: Int,
      child: LogicalPlan) extends UnaryNode {
    require(k > 0, s"k must be positive, got $k")
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyNode =
      copy(child = c)
  }

  /** Physical node, used at BOTH phases (x2-style partial/final flag): the
    * partial instance runs on whatever partitioning the child has; the
    * final instance demands ClusteredDistribution(keys), so EnsureRequirements
    * inserts the one hash exchange between them — carrying only the
    * partial winners.
    */
  final case class TopKPerKeyExec(
      keys: Seq[Expression], order: Seq[SortOrder], k: Int, partial: Boolean,
      child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) Seq(UnspecifiedDistribution)
      else Seq(ClusteredDistribution(keys))
    override def nodeName: String =
      if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

    override protected def doExecute(): RDD[InternalRow] = {
      val keyExprs = keys
      val sortOrder = order
      val limit = k
      val childOutput = child.output
      child.execute().mapPartitions { it =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val ord: BaseOrdering = RowOrdering.create(sortOrder, childOutput)
        // max-heap under `ord` per key: head is the WORST retained row, so
        // a better candidate replaces it in O(log k)
        val heapOrd = new Ordering[InternalRow] {
          override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(a, b)
        }
        val heaps = scala.collection.mutable.HashMap
          .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
        it.foreach { row =>
          // probe with the REUSED projection row; copy the key only on a
          // map miss — the operator targets many-rows-per-key, where an
          // eager per-row key copy is allocation on exactly the hot path
          // this operator exists to shrink
          val probe = keyProj(row)
          val heap = heaps.get(probe) match {
            case Some(h) => h
            case None =>
              val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](heapOrd)
              heaps.update(probe.copy(), h)
              h
          }
          if (heap.size < limit) heap.enqueue(row.copy())
          else if (ord.compare(row, heap.head) < 0) {
            heap.dequeue(); heap.enqueue(row.copy())
          }
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }
    }

    override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
      copy(child = c)
  }

  /** Strategy: partial fold → (exchange via EnsureRequirements) → final
    * fold. Installed by `GraftExtensions` when the session is built.
    */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, child) =>
        val partial = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
        TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
      case _ => Nil
    }
  }

  /** Public surface: top `k` rows per `keys` group, "top" = first under
    * `orderBy` (e.g. `col("v").desc, col("id").asc`). Column order
    * expressions must resolve against `df`.
    */
  def topKPerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = PlanBridge.analyzed(df)
    val keyAttrs: Seq[Expression] = keys.map { n =>
      analyzed.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"key column '$n' not in ${analyzed.output.map(_.name).mkString(", ")}"))
    }
    val order: Seq[SortOrder] = orderBy.map(PlanBridge.expr(spark, _)).map {
      case s: SortOrder => s
      case e            => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    }.map { s =>
      // bind by name against the analyzed child so the node is fully resolved
      s.copy(child = bindByName(s.child, analyzed.output)).asInstanceOf[SortOrder]
    }
    PlanBridge.ofRows(spark, TopKPerKeyNode(keyAttrs, order, k, analyzed))
  }

  private def bindByName(e: Expression, output: Seq[Attribute]): Expression =
    e.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        output.find(_.name == u.name).getOrElse(
          throw new IllegalArgumentException(s"order column '${u.name}' not found"))
    }
}
