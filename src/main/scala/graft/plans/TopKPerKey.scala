package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.{catalystExpr, datasetOfRows}
import org.apache.spark.sql.types.LongType

/** Which ranking function's `<= k` semantics the operator implements.
  *
  * RowNumber keeps exactly k rows per key. Rank keeps every row whose
  * rank ≤ k — ties at the k-th position mean the output can exceed k
  * rows (exactly like the window form). DenseRank keeps every row in
  * the k best distinct order-key groups.
  */
sealed trait TopKMode
object TopKMode {
  case object RowNumber extends TopKMode
  case object Rank extends TopKMode
  case object DenseRank extends TopKMode
}

/** Top-k rows per key (SURVEY §2 G4): the whole-operator Catalyst path
  * — logical node + planner strategy + partial/final physical execs.
  *
  * Why not window row_number + filter: a window sorts EVERY row of
  * every key partition and only then discards all but k — at 100 TB
  * the sort and the full shuffle dominate. This operator keeps a
  * k-bounded binary heap per key on the map side, shuffles only the
  * ≤ k×keys×partitions survivors, and merges heaps on the reduce side.
  * Shuffle volume and memory are O(k·|keys|), independent of row
  * count per key (for Rank/DenseRank, plus the rows tied at the
  * boundary — the same rows the window form would emit).
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    rankAttr: AttributeReference, child: LogicalPlan,
    mode: TopKMode = TopKMode.RowNumber) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey =
    copy(child = c)
}

/** Per-key bounded collectors shared by both exec phases. */
object TopKHeaps {
  sealed trait Collector {
    def offer(row: InternalRow): Unit
    /** survivors, no ordering guarantee (map-side emission) */
    def unsorted: Array[InternalRow]
    /** survivors best-first (reduce-side rank assignment) */
    def sorted: Array[InternalRow]
  }

  /** worst-of-the-best at index 0 (reverse sort order): exact k rows. */
  final class Heap(ord: Ordering[InternalRow], k: Int) extends Collector {
    private val a = new Array[InternalRow](k)
    var size = 0
    /** current worst kept row — only meaningful when size == k */
    def worst: InternalRow = a(0)
    override def offer(row: InternalRow): Unit = {
      if (size < k) {
        a(size) = row.copy(); size += 1; siftUp(size - 1)
      } else if (ord.compare(row, a(0)) < 0) { // better than current worst
        a(0) = row.copy(); siftDown(0)
      }
    }
    /** replace the worst with a strictly better row; returns the old
      * worst (already a private copy). Caller must ensure size == k.
      */
    def replaceWorst(row: InternalRow): InternalRow = {
      val old = a(0)
      a(0) = row.copy(); siftDown(0)
      old
    }
    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && ord.compare(a(i), a((i - 1) / 2)) > 0) {
        val t = a(i); a(i) = a((i - 1) / 2); a((i - 1) / 2) = t
        i = (i - 1) / 2
      }
    }
    private def siftDown(i0: Int): Unit = {
      var i = i0
      var go = true
      while (go) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && ord.compare(a(l), a(m)) > 0) m = l
        if (r < size && ord.compare(a(r), a(m)) > 0) m = r
        if (m == i) go = false
        else { val t = a(i); a(i) = a(m); a(m) = t; i = m }
      }
    }
    override def sorted: Array[InternalRow] = {
      val out = java.util.Arrays.copyOf(a, size)
      java.util.Arrays.sort(out, ord)
      out
    }
    override def unsorted: Array[InternalRow] = java.util.Arrays.copyOf(a, size)
  }

  /** rank() ≤ k: the k-bounded heap plus a buffer of rows TIED with
    * the boundary row — `rank(r) ≤ k  ⟺  key(r) ≤ key of the k-th
    * row in row_number order`, so survivors = heap ∪ {rows equal to
    * the final worst}. The buffer only ever holds CURRENT boundary
    * ties: the worst is non-increasing, so whenever it strictly
    * improves every buffered tie is stale at once and the buffer is
    * cleared (each row enters and leaves at most once — O(1)
    * amortized, memory O(k + current ties), exactly the extra rows
    * the window form would emit).
    */
  final class RankCollector(ord: Ordering[InternalRow], k: Int) extends Collector {
    private val heap = new Heap(ord, k)
    private val ties = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    override def offer(row: InternalRow): Unit = {
      if (heap.size < k) { heap.offer(row); return }
      val c = ord.compare(row, heap.worst)
      if (c < 0) {
        val evicted = heap.replaceWorst(row)
        // the evicted row may still tie the NEW worst (other copies of
        // the same key remain in the heap) — then it is still a
        // boundary tie; otherwise the worst strictly improved and ALL
        // buffered ties (they equaled the old worst) are stale
        if (ord.compare(evicted, heap.worst) == 0) ties += evicted
        else if (ties.nonEmpty) ties.clear()
      } else if (c == 0) ties += row.copy()
      // c > 0: strictly worse than the current worst; the worst only
      // ever improves, so the row can never tie the final boundary
    }
    private def survivors: Array[InternalRow] =
      if (heap.size < k || ties.isEmpty) heap.unsorted
      else (heap.unsorted.iterator ++ ties.iterator).toArray
    override def unsorted: Array[InternalRow] = survivors
    override def sorted: Array[InternalRow] = {
      val out = survivors
      java.util.Arrays.sort(out, ord)
      out
    }
  }

  /** dense_rank() ≤ k: rows of the k smallest distinct order keys — a
    * TreeMap keyed by the sort order, capped at k entries; a new key
    * beyond capacity evicts the largest group wholesale.
    */
  final class DenseRankCollector(ord: Ordering[InternalRow], k: Int) extends Collector {
    private val m = new java.util.TreeMap[InternalRow, scala.collection.mutable.ArrayBuffer[InternalRow]](
      new java.util.Comparator[InternalRow] {
        override def compare(x: InternalRow, y: InternalRow): Int = ord.compare(x, y)
      })
    override def offer(row: InternalRow): Unit = {
      val existing = m.get(row)
      if (existing != null) { existing += row.copy(); return }
      if (m.size < k) {
        val c = row.copy()
        m.put(c, scala.collection.mutable.ArrayBuffer(c))
      } else if (ord.compare(row, m.lastKey) < 0) {
        val c = row.copy()
        m.put(c, scala.collection.mutable.ArrayBuffer(c))
        m.pollLastEntry()
      }
    }
    override def unsorted: Array[InternalRow] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val it = m.values().iterator()
      while (it.hasNext) out ++= it.next()
      out.toArray
    }
    // TreeMap iteration is already key-ascending = best-first
    override def sorted: Array[InternalRow] = unsorted
  }

  def newCollector(mode: TopKMode, ord: Ordering[InternalRow], k: Int): Collector =
    mode match {
      case TopKMode.RowNumber => new Heap(ord, k)
      case TopKMode.Rank => new RankCollector(ord, k)
      case TopKMode.DenseRank => new DenseRankCollector(ord, k)
    }

  def collect(it: Iterator[InternalRow], keyProj: UnsafeProjection,
      ord: Ordering[InternalRow], k: Int,
      mode: TopKMode): java.util.HashMap[UnsafeRow, Collector] = {
    val heaps = new java.util.HashMap[UnsafeRow, Collector]()
    while (it.hasNext) {
      val row = it.next()
      val key = keyProj(row)
      var h = heaps.get(key)
      if (h == null) { h = newCollector(mode, ord, k); heaps.put(key.copy(), h) }
      h.offer(row)
    }
    heaps
  }
}

/** Map-side pre-pruning: emits the per-partition survivors of the mode
  * predicate — a safe over-approximation, since a row's partition-local
  * rank never exceeds its global rank. Rows stay in their partition
  * (as in [[TopKPerKeyExec]]), so the child's partitioning holds for
  * the output: a second top-k on the same key over the first one's
  * output needs no exchange of its own.
  */
case class PartialTopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, mode: TopKMode, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      val ord = new LazilyGeneratedOrdering(order, child.output)
      val heaps = TopKHeaps.collect(it, keyProj, ord, k, mode)
      val hIt = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var cur: Array[InternalRow] = Array.empty
        private var i = 0
        override def hasNext: Boolean = {
          while (i >= cur.length && hIt.hasNext) { cur = hIt.next().unsorted; i = 0 }
          i < cur.length
        }
        override def next(): InternalRow = { val r = cur(i); i += 1; r }
      }
    }, preservesPartitioning = true)

  override protected def withNewChildInternal(c: SparkPlan): PartialTopKPerKeyExec =
    copy(child = c)
}

/** Final per-key top-k + rank assignment; requires co-location by key.
  * The appended rank column carries the mode's own numbering
  * (row_number / rank-with-gaps / dense_rank), computed over the
  * survivors — identical to the window value for every surviving row,
  * because every better-ranked row also survives.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    mode: TopKMode, rankAttr: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      val ord = new LazilyGeneratedOrdering(order, child.output)
      val heaps = TopKHeaps.collect(it, keyProj, ord, k, mode)
      val outProj = UnsafeProjection.create(output, output)
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val rankIsInt = rankAttr.dataType == org.apache.spark.sql.types.IntegerType
      val joined = new JoinedRow
      val hIt = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var cur: Array[InternalRow] = Array.empty
        private var i = 0
        private var prev: InternalRow = _
        private var rank = 0
        override def hasNext: Boolean = {
          while (i >= cur.length && hIt.hasNext) {
            cur = hIt.next().sorted; i = 0; prev = null; rank = 0
          }
          i < cur.length
        }
        override def next(): InternalRow = {
          val r = cur(i); i += 1
          // per-mode 1-based numbering, typed like the rewritten attribute
          val rnk = mode match {
            case TopKMode.RowNumber => i
            case TopKMode.Rank =>
              if (prev == null || ord.compare(r, prev) != 0) rank = i
              prev = r
              rank
            case TopKMode.DenseRank =>
              if (prev == null || ord.compare(r, prev) != 0) rank += 1
              prev = r
              rank
          }
          if (rankIsInt) rankRow.setInt(0, rnk) else rankRow.setLong(0, rnk.toLong)
          outProj(joined(r, rankRow))
        }
      }
    }, preservesPartitioning = true)

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

/** Planner strategy: partial below (pre-shuffle), final above;
  * EnsureRequirements inserts the key exchange between them.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKey =>
      TopKPerKeyExec(t.keys, t.order, t.k, t.mode, t.rankAttr,
        PartialTopKPerKeyExec(t.keys, t.order, t.k, t.mode, planLater(t.child))) :: Nil
    case _ => Nil
  }
}

/** User-facing API. */
object TopK {
  /** Register the strategy once per session (idempotent). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(TopKStrategy))
      spark.experimental.extraStrategies = strategies :+ TopKStrategy
  }

  /** Top-k rows per key with a 1-based rank column appended. `order`
    * takes Column sort expressions (e.g. col("sim").desc, col("id").asc);
    * ties must be broken by the ordering for deterministic output
    * (RowNumber mode), or are kept wholesale (Rank/DenseRank modes).
    */
  def perKey(df: DataFrame, keyCols: Seq[Column], order: Seq[Column], k: Int,
      rankName: String = "rnk",
      mode: TopKMode = TopKMode.RowNumber): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    ensureRegistered(spark)
    val plan = df.queryExecution.analyzed
    val keys = keyCols.map(catalystExpr)
    val sortOrders = order.map(c => catalystExpr(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    })
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    datasetOfRows(spark, TopKPerKey(keys, sortOrders, k, rankAttr, plan, mode))
  }
}
