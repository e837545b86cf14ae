package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
import org.apache.spark.TaskContext

/** Grouped top-k as a first-class operator — the whole-operator extension
  * tier (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`), for the one
  * shape the built-ins can't plan efficiently: "first k rows per key" via
  * `row_number().over(Window...)` + filter sorts EVERY group's rows
  * (O(n log n) per group, full materialization in the window buffer), while
  * this operator keeps a bounded k-element heap per key (O(n log k), O(keys
  * per partition × k) memory).
  *
  * Scale shape: the strategy plans TWO instances — a map-side PARTIAL pass
  * on whatever partitioning the child already has, then the final pass
  * whose `requiredChildDistribution = ClusteredDistribution(keys)` makes
  * the planner hash-shuffle on the keys (or reuse a compatible child
  * partitioning — bucketed storage ⇒ NO shuffle). The partial pass caps
  * what crosses the wire at `partitions × keys × k` rows, the same shape as
  * Spark's partial aggregate.
  *
  * Memory shape: the per-task heap map is bounded by
  * `spark.graft.topKPerKey.rowBudget` buffered rows (default 4Mi). A task
  * whose distinct-key count pushes the map past the budget (k=1 over
  * near-unique keys — the `dedupApply` shape — is the canonical offender)
  * switches to a spillable external sort on (keys, order) via
  * `UnsafeExternalRowSorter` — the same machinery as `SortExec`, pages
  * acquired from the task memory manager — and then streams the first k
  * rows of each key group out of the sorted run with O(1) memory. Identical
  * output (the order is total whenever the caller's is); the switch is
  * observable as the `numFallbackTasks` SQL metric.
  *
  * The reference has no such operator (its LIMIT is global, per generated
  * query — /root/reference/subset.py:75-76); this is the per-group form a
  * training-data pipeline needs ("first k events per user", "best k
  * candidates per bucket").
  */
case class TopKPerKey(
    keyExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"topKPerKey: k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans the logical node as partial-then-final; `planLater` leaves the
  * child to the normal planner, so filters/pruning below the top-k still
  * push into the scan.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keyExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFallbackTasks" ->
      SQLMetrics.createMetric(sparkContext, "tasks spilled to external sort"))

  // final pass co-locates each key's rows (an already-compatible child
  // partitioning — bucketing, prior aggregate on the same keys — satisfies
  // this with no exchange); the partial pass runs wherever the data is
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keyExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keyExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // If the planner left the partial pass as the DIRECT child (no
    // exchange), the input already satisfied ClusteredDistribution(keys)
    // — bucketed storage, a prior same-key aggregate, or a single
    // partition — so the partial's per-partition top-k IS the global
    // per-key answer: pass it through instead of re-heaping it. (With a
    // shuffle in between, the child here is the exchange/query stage, not
    // the partial, and the merge below runs as usual.)
    child match {
      case p: TopKPerKeyExec
        if p.partial && p.keyExprs == keyExprs && p.order == order && p.k == k =>
        return p.execute()
      case _ =>
    }
    val schema = child.output
    val keys = keyExprs
    val ord = order
    val kk = k
    val budgetStr = conf.getConfString(
      TopKPerKey.RowBudgetKey, TopKPerKey.DefaultRowBudget.toString)
    val rowBudget =
      try budgetStr.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"${TopKPerKey.RowBudgetKey} must be a row count (long), " +
            s"got '$budgetStr'")
      }
    // the sort fallback orders by (keys, order); key types outside the
    // orderable set (maps) can't take that path — their heap map stays
    // unbounded, as before. Every key this library plans is orderable;
    // warn loudly when a caller's isn't, because that disables the memory
    // bound exactly where high key cardinality would need it.
    val sortable = keys.forall(e => RowOrdering.isOrderable(e.dataType))
    if (!sortable) logWarning(
      s"TopKPerKey: non-orderable key type in ${keys.map(_.dataType)} — " +
        "spill fallback unavailable, per-task heap map is UNBOUNDED " +
        s"(row budget $rowBudget not enforced)")
    val fallbackMetric = longMetric("numFallbackTasks")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, schema)
      // codegen'd comparator over the sort order, bound to the child schema
      val rowOrd = GenerateOrdering.generate(ord, schema)
      // max-heap per key: head is the WORST of the current best k, so each
      // new row needs one comparison against the head in the common case.
      // Rows are stored via copy() — child rows may be reused UnsafeRows or
      // any other InternalRow (cache, AQE reuse), so no concrete type is
      // assumed.
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
      val heapOrd: Ordering[InternalRow] = (a, b) => rowOrd.compare(a, b)
      var buffered = 0L
      var overflow = false
      while (iter.hasNext && !overflow) {
        val row = iter.next()
        val key = keyProj(row)
        var q = heaps.get(key)
        if (q == null) {
          q = scala.collection.mutable.PriorityQueue.empty[InternalRow](heapOrd)
          heaps.put(key.copy(), q)
        }
        if (q.size < kk) { q.enqueue(row.copy()); buffered += 1 }
        else if (rowOrd.compare(row, q.head) < 0) {
          q.dequeue()
          q.enqueue(row.copy())
        }
        if (sortable && buffered > rowBudget) overflow = true
      }
      import scala.jdk.CollectionConverters._
      if (!overflow) heaps.values.iterator.asScala.flatMap(_.iterator)
      else {
        fallbackMetric += 1
        TopKPerKey.sortedTopK(
          heaps.values.iterator.asScala.flatMap(_.iterator) ++ iter,
          schema, keys, ord, kk, onSorterBuilt = () => heaps.clear())
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {

  /** Per-task buffered-row budget before the heap map spills to an external
    * sort. 4Mi rows of buffered top-k state is comfortably in-memory for an
    * executor task; past it, distinct-key cardinality is the problem and
    * sort-based grouping (which pages through the task memory manager and
    * spills to disk) is the right algorithm.
    */
  val RowBudgetKey = "spark.graft.topKPerKey.rowBudget"
  val DefaultRowBudget: Long = 4L * 1024 * 1024

  /** Sort-based grouped top-k over one partition: external-sort `rows` by
    * (keys, order) with `UnsafeExternalRowSorter` (spills under memory
    * pressure exactly like `SortExec`), then stream the first k rows of
    * each key group. O(1) heap beyond the sorter's own managed pages.
    * `onSorterBuilt` runs after all input rows are copied into the sorter's
    * pages — the caller drops its buffered state there.
    */
  private[plans] def sortedTopK(
      rows: Iterator[InternalRow],
      schema: Seq[Attribute],
      keys: Seq[Expression],
      ord: Seq[SortOrder],
      k: Int,
      onSorterBuilt: () => Unit): Iterator[InternalRow] = {
    val schemaStruct = StructType(
      schema.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val fullOrd = GenerateOrdering.generate(
      keys.map(SortOrder(_, Ascending)) ++ ord, schema)
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      // constant prefix: every comparison falls through to the full
      // codegen'd (keys, order) comparator — correct for any orderable key
      // mix, which a per-column radix prefix would not be
      private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        p.value = 0L; p.isNull = false; p
      }
    }
    val sorter = UnsafeExternalRowSorter.create(
      schemaStruct, fullOrd, PrefixComparators.LONG, prefixComputer,
      org.apache.spark.sql.graft.SparkInternals.pageSizeBytes,
      /* canUseRadixSort = */ false)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      sorter.cleanupResources()
    })
    val toUnsafe = UnsafeProjection.create(schema, schema)
    while (rows.hasNext) sorter.insertRow(toUnsafe(rows.next()))
    onSorterBuilt()
    val sorted = sorter.sort()
    val keyProj = UnsafeProjection.create(keys, schema)
    new Iterator[InternalRow] {
      private var prevKey: UnsafeRow = _
      private var emitted = 0
      private var pending: InternalRow = _
      private def advance(): Unit = {
        pending = null
        while (pending == null && sorted.hasNext) {
          // the sorter's iterator REUSES one row object across next()
          // calls, and this iterator looks ahead (the skip-scan past
          // non-emitted rows) — so the emitted row MUST be a copy, or the
          // lookahead would corrupt the row already handed downstream
          // (observed: first selected row lost, last duplicated)
          val r = sorted.next()
          val kRow = keyProj(r)
          if (prevKey == null || !kRow.equals(prevKey)) {
            prevKey = kRow.copy()
            emitted = 0
          }
          if (emitted < k) { emitted += 1; pending = r.copy() }
        }
      }
      advance()
      override def hasNext: Boolean = pending != null
      override def next(): InternalRow = {
        val r = pending
        advance()
        r
      }
    }
  }

  /** DataFrame API: the k smallest rows per key under `orderCols` ascending
    * (extend the column list with a tiebreaker to make the order total —
    * otherwise rank-k ties are implementation-defined, same as
    * `row_number`). A descending order takes a negated column, as
    * `Similarity.embeddingOutliers` does. The node plans through
    * [[TopKPerKeyStrategy]], which `GraftExtensions` injects into every
    * session.
    */
  def topKPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    def resolve(name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"topKPerKey: column '$name' not in ${plan.output.map(_.name)}"))
    org.apache.spark.sql.graft.PlanBuilder.ofRows(spark,
      TopKPerKey(
        keyCols.map(resolve),
        orderCols.map(c => SortOrder(resolve(c), Ascending)),
        k, plan))
  }
}
