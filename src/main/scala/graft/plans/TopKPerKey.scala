package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Partial top-k per group as a first-class operator (SURVEY.md §2.8).
  *
  * The idiomatic formulation — `row_number().over(Window.partitionBy(
  * keys).orderBy(ord)) <= k` — shuffles every row, then FULLY SORTS each
  * partition, then discards all but k rows per key. At 100 TB the sort
  * dominates and spills. This operator keeps a bounded k-element heap
  * per key within each partition instead: O(n log k) with no sort
  * buffer, no spill, and rows beyond k never materialize.
  *
  * Pieces: [[TopKPerKeyNode]] (logical), [[TopKPerKeyStrategy]]
  * (planner rule), [[TopKPerKeyExec]] (physical). [[TopK.ensureRegistered]]
  * is the one registration path: it appends the strategy to
  * `spark.experimental.extraStrategies` and the rewrite rules to
  * `spark.experimental.extraOptimizations`. [[graft.GraftSession]] calls
  * it on every session it builds, and [[TopK.perKey]] calls it lazily,
  * so the operator also works on a session built elsewhere.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Map-side (partial) top-k: the same bounded heap per key, run over
  * each input partition IN PLACE — no distribution requirement, no
  * shuffle. Exact pre-filter for a following [[TopKPerKeyNode]] when
  * the ordering is total: the global bottom-k of a union is the
  * bottom-k of the per-partition bottom-k's. Shrinks what the final
  * shuffle moves from |input| to ≤ k·partitions rows — the difference
  * between "shuffle the whole table to one reducer" and "shuffle a
  * sample" when the key is a constant (the boundary-sampling shape in
  * [[graft.ops.Ranking.boundaryRow]]). */
case class TopKPerKeyPartialNode(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPartialNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, ordering, k, child) =>
      TopKPerKeyExec(keys, ordering, k, planLater(child)) :: Nil
    case TopKPerKeyPartialNode(keys, ordering, k, child) =>
      TopKPerKeyExec(keys, ordering, k, planLater(child), partial = true) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** One shuffle on the grouping keys; no ordering requirement — the
    * heap replaces the sort that a window operator would demand. A
    * partial (map-side) pass runs wherever its input already is. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    // Key-count cap on the per-partition heap map (round-12 Stress100
    // finding): the PARTIAL pass runs on the child's partitioning, so a
    // self-kNN-shaped input (candidates partitioned by NEIGHBOR, keyed
    // by QUERY) presents ~every distinct key to ~every partition — at
    // the ×100 tier that was 2M keys × k copied rows × 32 tasks, an
    // unbounded multi-GB map that OOMed an 8 GB heap. When the map
    // reaches the cap, the current heaps FLUSH downstream and the map
    // clears: partial top-k is a semigroup fold, the final (clustered)
    // pass re-merges the flushed epochs per key, so results are exact —
    // a key seen across e epochs just ships ≤ e·k rows instead of ≤ k.
    // Memory is bounded at cap·(k+1) retained rows per task. The cap
    // applies ONLY to the partial pass: the FINAL (clustered) pass must
    // hold exactly one heap per key for the whole partition — flushing
    // there would emit more than k rows for a key split across epochs.
    val maxKeys =
      if (!partial) Int.MaxValue
      else {
        val key = "graft.topk.partialFlushKeys"
        val raw = org.apache.spark.sql.internal.SQLConf.get
          .getConfString(key, (1 << 16).toString)
        // name the conf key on a bad value — a bare .toInt would throw
        // an anonymous NumberFormatException from inside doExecute
        // (advisor r12)
        try math.max(1, raw.trim.toInt)
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a positive integer, got: '$raw'")
        }
      }
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val ord = GenerateOrdering.generate(ordering, childOutput)
      // heap head = WORST retained row (reverse order), so admission is
      // a single compare against peek
      new Iterator[InternalRow] {
        private val heaps =
          new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        private var drain: Iterator[InternalRow] = Iterator.empty
        private var done = false

        private def sortedRows(h: java.util.PriorityQueue[InternalRow]) = {
          val arr = h.toArray(new Array[InternalRow](h.size))
          java.util.Arrays.sort(arr, ord)
          arr.iterator
        }

        private def fill(): Unit = {
          while (!drain.hasNext && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null) {
              if (heaps.size >= maxKeys) {
                // cap reached and a NEW key arrived: flush this epoch —
                // materialize the ≤ cap·k retained rows, then release
                // the map so the next epoch starts empty
                drain = heaps.values.iterator.asScala
                  .flatMap(sortedRows).toArray.iterator
                heaps.clear()
              }
              // initial CAPACITY only (the queue grows) — a huge k
              // (e.g. an effectively-unbounded "rank everything" call)
              // must not pre-allocate k slots or overflow
              // PriorityQueue's max size
              heap = new java.util.PriorityQueue[InternalRow](
                math.min(k, 63) + 1, ord.reversed())
              heaps.put(key.copy(), heap)
            }
            if (heap.size < k) heap.add(row.copy())
            else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(row.copy())
            }
          }
          if (!done && !drain.hasNext && !iter.hasNext && !heaps.isEmpty) {
            // end of input: emit LAZILY over the live map (no clear —
            // nothing inserts after this; done guards re-entry), so the
            // final pass never doubles its map into an array
            drain = heaps.values.iterator.asScala.flatMap(sortedRows)
            done = true
          }
        }

        override def hasNext: Boolean = { fill(); drain.hasNext }
        override def next(): InternalRow = { fill(); drain.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopK {

  /** Idempotently make the strategy + rewrite rules available on
    * `spark`. */
  def ensureRegistered(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    if (!spark.experimental.extraOptimizations.contains(WindowTopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ WindowTopKRewrite
    if (!spark.experimental.extraOptimizations.contains(TopKJoinPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKJoinPushdown
    if (!spark.experimental.extraOptimizations.contains(FilterThroughTopK))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FilterThroughTopK
    if (!spark.experimental.extraOptimizations.contains(MergeFilterPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MergeFilterPushdown
  }

  /** Top `k` rows per `keyCols` group under `sortCols` (use `.desc`/
    * `.asc` columns; bare columns default ascending). The ordering must
    * be total (include a tie-breaker) for deterministic results. Output
    * keeps the input schema; rows within a group come out in sort order,
    * groups in no particular order. */
  def perKey(df: DataFrame, keyCols: Seq[String], sortCols: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0)
    val spark = df.sparkSession
    ensureRegistered(spark)
    val child = df.queryExecution.analyzed
    val keys: Seq[Expression] = keyCols.map { n =>
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"key '$n' not in ${child.output.map(_.name)}"))
    }
    val ordering = sortCols.map(c => GraftColumnBridge.eagerExpression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftColumnBridge.ofRows(spark, TopKPerKeyNode(keys, ordering, k, child))
  }

  /** Two-phase exact top-k per key: a map-side partial heap pass (no
    * shuffle) under the usual clustered final pass. Only correct for a
    * TOTAL `sortCols` order (the per-partition survivors must be a
    * superset-invariant of any tie choice); the final shuffle moves
    * ≤ k·partitions rows instead of the whole input — use whenever k
    * ≪ rows-per-key, mandatory when `keyCols` is a constant. */
  def perKeyTwoPhase(df: DataFrame, keyCols: Seq[String],
      sortCols: Seq[Column], k: Int): DataFrame = {
    require(k > 0)
    val spark = df.sparkSession
    ensureRegistered(spark)
    val child = df.queryExecution.analyzed
    val keys: Seq[Expression] = keyCols.map { n =>
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"key '$n' not in ${child.output.map(_.name)}"))
    }
    val ordering = sortCols.map(c => GraftColumnBridge.eagerExpression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftColumnBridge.ofRows(spark, TopKPerKeyNode(keys, ordering, k,
      TopKPerKeyPartialNode(keys, ordering, k, child)))
  }

  /** The partial pass alone — test hook for asserting its shuffle-input
    * bound (≤ k rows per key per input partition). */
  private[graft] def perKeyPartialForTest(df: DataFrame,
      keyCols: Seq[String], sortCols: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val child = df.queryExecution.analyzed
    val keys: Seq[Expression] = keyCols.map(n =>
      child.output.find(_.name == n).get)
    val ordering = sortCols.map(c => GraftColumnBridge.eagerExpression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftColumnBridge.ofRows(spark,
      TopKPerKeyPartialNode(keys, ordering, k, child))
  }
}
