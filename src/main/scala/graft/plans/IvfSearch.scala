package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Descending, Expression, GenericInternalRow, JoinedRow, Literal, Predicate, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{ShuffledRowRDD, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetrics, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.graftbridge.datasetOfRows
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructType}

/** A request's query side, built on the driver and shipped to the
  * list-scan tasks as ONE broadcast: `rows(i)` is query i's row over
  * the node's query attributes (q_idx = i, q_id, extra query columns,
  * qv, qn, per-query codec payload), `group(i)` the index of its q_id
  * among the request's distinct ids (duplicate ids share one heap, as
  * they share one key of a per-key top-k), and `probes` maps each
  * probed list id to the queries probing it, each with its per-probe
  * codec payload row (residual PQ's tables) or null.
  */
final class IvfQueries(val rows: Array[InternalRow], val group: Array[Int],
    val nGroups: Int, val probes: java.util.HashMap[java.lang.Long, Array[IvfProbe]])
  extends Serializable

final case class IvfProbe(query: Int, payload: InternalRow)

/** One IVF search over the probed lists `child`: every list row is
  * scored against the queries that probe its list `listCid` (`cond`,
  * then `score`, bound over list row ⋈ query row ⋈ probe payload row), a
  * bounded heap per query keeps the best `score` (top-`r` when the
  * codec shortlists by ADC, else top-`k` by `sim`), and the heaps
  * merge per q_id into the top-`k` by `sim` desc, c_id asc, with a
  * row_number `rnk`. Output (q_id, c_id, sim, rnk). `listCid` and
  * `listId` (the child's c_cid and c_id) are fields so that they count
  * as references: column pruning above the node keeps them in the
  * child even where no expression reads them.
  */
case class IvfSearch(queries: Broadcast[IvfQueries], queryAttrs: Seq[Attribute],
    probeAttrs: Seq[Attribute], listCid: Attribute, listId: Attribute,
    cond: Expression, score: Expression, scoreAsc: Boolean, sim: Expression,
    r: Option[Int], k: Int, output: Seq[Attribute], child: LogicalPlan)
  extends UnaryNode {
  override def producedAttributes: AttributeSet =
    AttributeSet(output ++ queryAttrs ++ probeAttrs)
  override protected def stringArgs: Iterator[Any] = IvfSearch.describe(queries, k, r)
  override protected def withNewChildInternal(c: LogicalPlan): IvfSearch =
    copy(child = c)
}

/** The physical IVF search: ONE Spark job in two stages. The map stage
  * scans the child (a bucket-pruned list scan launches no task for an
  * empty bucket) and keeps one bounded heap per query; one shuffle
  * inside the operator (hash on q_id, not an Exchange, so adaptive
  * execution adds no stage) merges the heaps. A shortlisting codec
  * scores by ADC on the map side and computes the exact `sim` only
  * for each task's top-r survivors: the global top-r is a subset of
  * their union, so the result equals the top-k by `sim` of the
  * global ADC top-r.
  */
case class IvfSearchExec(queries: Broadcast[IvfQueries], queryAttrs: Seq[Attribute],
    probeAttrs: Seq[Attribute], listCid: Attribute, listId: Attribute,
    cond: Expression, score: Expression, scoreAsc: Boolean, sim: Expression,
    r: Option[Int], k: Int, output: Seq[Attribute], child: SparkPlan)
  extends UnaryExecNode {
  override def producedAttributes: AttributeSet =
    AttributeSet(output ++ queryAttrs ++ probeAttrs)
  override protected def stringArgs: Iterator[Any] = IvfSearch.describe(queries, k, r)

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics = readMetrics ++ writeMetrics ++
    Map("dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"))

  private def nParts: Int =
    math.min(conf.numShufflePartitions, queries.value.nGroups)
  override def outputPartitioning: Partitioning = UnknownPartitioning(nParts)

  override protected def doExecute(): RDD[InternalRow] = {
    if (nParts == 0) return sparkContext.emptyRDD[InternalRow]
    val qIdType = queryAttrs(1).dataType
    // map output: (group, q_id, c_id, sim, score)
    val partial = Seq(AttributeReference("grp", IntegerType, nullable = false)(),
      AttributeReference("q_id", qIdType)(), AttributeReference("c_id", LongType)(),
      AttributeReference("sim", DoubleType)(), AttributeReference("score", DoubleType)())
    val dep = ShuffleExchangeExec.prepareShuffleDependency(
      mapSide(child.execute()), partial, HashPartitioning(Seq(partial(1)), nParts),
      new UnsafeRowSerializer(partial.size, longMetric("dataSize")), writeMetrics)
    val outTypes = output.map(_.dataType)
    val (kk, rr, asc) = (k, r, scoreAsc)
    new ShuffledRowRDD(dep, readMetrics).mapPartitions { it =>
      val byScore = new LazilyGeneratedOrdering(IvfSearch.order(4, 2, asc))
      val bySim = new LazilyGeneratedOrdering(IvfSearch.order(3, 2, asc = false))
      val heaps = new java.util.HashMap[Integer, TopKHeaps.Heap]()
      it.foreach { row =>
        val g = Integer.valueOf(row.getInt(0))
        var h = heaps.get(g)
        if (h == null) {
          h = new TopKHeaps.Heap(if (rr.isDefined) byScore else bySim, rr.getOrElse(kk))
          heaps.put(g, h)
        }
        h.offer(row)
      }
      val toOut = UnsafeProjection.create(outTypes.toArray)
      val out = new GenericInternalRow(4)
      heaps.values().iterator().asScala.flatMap { h =>
        val best = if (rr.isEmpty) h.sorted else {
          val top = new TopKHeaps.Heap(bySim, kk)
          h.unsorted.foreach(top.offer)
          top.sorted
        }
        best.iterator.zipWithIndex.map { case (row, i) =>
          out.update(0, row.get(1, qIdType)); out.setLong(1, row.getLong(2))
          if (row.isNullAt(3)) out.setNullAt(2) else out.setDouble(2, row.getDouble(3))
          out.setLong(3, i + 1L)
          toOut(out)
        }
      }
    }
  }

  /** Per task: the heap survivors of its rows, as (group, q_id, c_id,
    * sim, score) rows. */
  private def mapSide(scan: RDD[InternalRow]): RDD[InternalRow] = {
    val (bc, qAttrs, condE, scoreE, simE, kk, rr, asc) =
      (queries, queryAttrs, cond, score, sim, k, r, scoreAsc)
    val listAttrs = child.output
    val in = listAttrs ++ qAttrs ++ probeAttrs
    val cidOrd = listAttrs.indexWhere(_.exprId == listCid.exprId)
    val keyExprs = Seq(scoreE, listId, qAttrs.head)
    val keyAttrs = AttributeReference("score", scoreE.dataType)() +: keyExprs.tail
      .map(_.asInstanceOf[Attribute])
    val qIdType = qAttrs(1).dataType
    val keep = scan.partitions.map {
      case p: FilePartition => p.files.nonEmpty
      case _ => true
    }
    val rows = if (keep.forall(identity)) scan else PartitionPruningRDD.create(scan, keep)
    rows.mapPartitionsWithIndex { (part, it) =>
      val qs = bc.value
      val pred = if (condE == Literal.TrueLiteral) null else {
        val p = Predicate.create(condE, in); p.initialize(part); p
      }
      val key = UnsafeProjection.create(keyExprs, in)
      // a shortlisting codec's heap rows carry the list row for the
      // survivors' exact sim: key ⋈ list row ⋈ query row
      lazy val simOf = UnsafeProjection.create(Seq(simE), keyAttrs ++ listAttrs ++ qAttrs)
      val ord = new LazilyGeneratedOrdering(IvfSearch.order(0, 1, rr.isDefined && asc))
      val heaps = new Array[TopKHeaps.Heap](qs.nGroups)
      val none = new GenericInternalRow(0)
      val (lq, lqp, kl) = (new JoinedRow, new JoinedRow, new JoinedRow)
      while (it.hasNext) {
        val row = it.next()
        val ps = qs.probes.get(row.getLong(cidOrd))
        var j = 0
        while (ps != null && j < ps.length) {
          val p = ps(j)
          lqp(lq(row, qs.rows(p.query)), if (p.payload == null) none else p.payload)
          if (pred == null || pred.eval(lqp)) {
            val g = qs.group(p.query)
            if (heaps(g) == null) heaps(g) = new TopKHeaps.Heap(ord, rr.getOrElse(kk))
            val kr = key(lqp)
            heaps(g).offer(if (rr.isDefined) kl(kr, row) else kr)
          }
          j += 1
        }
      }
      val toPartial = UnsafeProjection.create(
        Array[DataType](IntegerType, qIdType, LongType, DoubleType, DoubleType))
      val out = new GenericInternalRow(5)
      val kq = new JoinedRow
      heaps.iterator.filter(_ != null).flatMap(_.unsorted.iterator).map { h =>
        val q = qs.rows(h.getInt(2))
        out.setInt(0, qs.group(h.getInt(2))); out.update(1, q.get(1, qIdType))
        out.setLong(2, h.getLong(1))
        val s = if (rr.isDefined) simOf(kq(h, q)) else h
        if (s.isNullAt(0)) out.setNullAt(3) else out.setDouble(3, s.getDouble(0))
        if (h.isNullAt(0)) out.setNullAt(4) else out.setDouble(4, h.getDouble(0))
        toPartial(out)
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): IvfSearchExec =
    copy(child = c)
}

/** Planner strategy: the logical search becomes its one exec. */
object IvfSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: IvfSearch =>
      IvfSearchExec(s.queries, s.queryAttrs, s.probeAttrs, s.listCid, s.listId,
        s.cond, s.score, s.scoreAsc, s.sim, s.r, s.k, s.output,
        planLater(s.child)) :: Nil
    case _ => Nil
  }
}

object IvfSearch {
  /** Register the strategy once per session (idempotent). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(IvfSearchStrategy))
      spark.experimental.extraStrategies = strategies :+ IvfSearchStrategy
  }

  /** The heap order of a row holding a score at ordinal `score` and
    * c_id at `cid`: the score ascending or descending, ties broken by
    * c_id ascending — the order of the per-key top-k it replaces.
    */
  private[plans] def order(score: Int, cid: Int, asc: Boolean): Seq[SortOrder] =
    Seq(SortOrder(BoundReference(score, DoubleType, nullable = true),
        if (asc) Ascending else Descending),
      SortOrder(BoundReference(cid, LongType, nullable = false), Ascending))

  private[plans] def describe(q: Broadcast[IvfQueries], k: Int, r: Option[Int]): Iterator[Any] =
    Iterator(s"k=$k", r.fold("")(n => s"r=$n"),
      s"queries=${q.value.rows.length}", s"lists=${q.value.probes.size}")
      .filter(_.nonEmpty)

  /** The search over `lists` (already filtered to the probed lists)
    * for a request's query side: `cond`, `score` and `sim` are Columns
    * over the list columns and the query and probe fields (the query
    * fields start with q_idx: Int, q_id), resolved by the analyzer as
    * over a join of the lists with an empty relation of those fields.
    * `r` = Some(n) shortlists the top-n by `score` (ascending when
    * `scoreAsc`) before the exact top-k by `sim`; None ranks by `sim`,
    * which `score` then is.
    */
  def over(lists: DataFrame, side: IvfQueries, queryFields: StructType,
      probeFields: StructType, cond: Column, score: Column, scoreAsc: Boolean,
      sim: Column, r: Option[Int], k: Int): DataFrame = {
    val spark = lists.sparkSession.asInstanceOf[SparkSession]
    ensureRegistered(spark)
    val queryAttrs = DataTypeUtils.toAttributes(queryFields)
    val probeAttrs = DataTypeUtils.toAttributes(probeFields)
    val sideRel = datasetOfRows(spark, LocalRelation(queryAttrs ++ probeAttrs))
    val resolved = lists.crossJoin(sideRel)
      .select(cond.as("cond"), score.as("score"), sim.as("sim"))
      .queryExecution.analyzed
    val (exprs, child) = resolved match {
      case Project(list, j: Join) => (list.map { case a: Alias => a.child }, j.left)
    }
    val out = Seq(AttributeReference("q_id", queryAttrs(1).dataType)(),
      AttributeReference("c_id", LongType)(), AttributeReference("sim", DoubleType)(),
      AttributeReference("rnk", LongType, nullable = false)())
    def listAttr(name: String) = child.output.find(_.name == name).get
    datasetOfRows(spark, IvfSearch(spark.sparkContext.broadcast(side), queryAttrs,
      probeAttrs, listAttr("c_cid"), listAttr("c_id"), exprs(0), exprs(1), scoreAsc,
      exprs(2), r, k, out, child))
  }
}
