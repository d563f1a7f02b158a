package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{AnnOps, LayoutOps}
import graft.operators.AnnOps.SessionIndex
import org.apache.spark.{DriverBroadcastBlocks, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** The per-request job budget of IVF serving: a request computes its
  * query side on the driver, runs no global sort and re-ranks from the
  * probed lists' in-row floats inside one search operator, so it starts
  * one job: the probed-list scan and the operator's one shuffle, not
  * fixed per-query machinery.
  */
class IvfRequestJobsSpec extends GraftSpec with AdaptiveSparkPlanHelper {

  private val MaxJobs = 1

  /** Four corpus vectors under external ids, as a request's query frame. */
  private def fixtureQueries() = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").isin(1L, 42L, 137L, 301L))
      .select("vec_id", "embedding").collect()
      .map(r => Row(r.getLong(0) + 1000000L, r.getSeq[Float](1)))
    assert(rows.length == 4, "fixture vectors missing")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A serving handle over the persisted IVF-PQ layout, built cold. */
  private def persistedHandle(): AnnOps.IvfPqServing = {
    LayoutOps.purgeAll(spark, Sf)
    Seq("ivf_quantizer", "pq_book", "ivfpq_lists")
      .foreach(f => LayoutOps.ensure(spark, Sf, f))
    LayoutOps.ivfPqServing(spark, Sf)
  }

  test(s"a 4-vector request over the persisted IVF-PQ layout runs at most $MaxJobs Spark jobs") {
    try {
      val sv = persistedHandle()
      val queries = fixtureQueries()
      def request(): Array[Row] =
        AnnOps.ivfPqSearchTables(spark, Sf, sv, queries).collect()
      // the first request pays the one-time code generation
      request()
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val out = try {
        val out = request()
        ListenerBusDrain(spark.sparkContext)
        out
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(out.length == 4 * 10, s"expected 10 hits per vector: ${out.length}")
      info(s"one request ran ${jobs.get} jobs")
      assert(jobs.get <= MaxJobs, s"one request ran ${jobs.get} jobs")
    } finally LayoutOps.purgeAll(spark, Sf)
  }

  test("a 1-vector request over the persisted IVF-PQ layout runs no task for an unprobed bucket") {
    try {
      val sv = persistedHandle()
      val query = fixtureQueries().limit(1)
      AnnOps.ivfPqSearchTables(spark, Sf, sv, query).collect()
      val df = AnnOps.ivfPqSearchTables(spark, Sf, sv, query)
      val tasks = new AtomicInteger
      val listener = new SparkListener {
        override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val out = try {
        val out = df.collect()
        ListenerBusDrain(spark.sparkContext)
        out
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(out.length == 10, s"expected 10 hits: ${out.length}")
      val probed = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.optionalBucketSet.map(_.cardinality())
      }.flatten
      assert(probed.size == 1, s"expected one bucket-pruned list scan: $probed")
      // one reduce partition: the request holds one query
      info(s"${tasks.get} tasks for ${probed.head} probed buckets")
      assert(tasks.get <= probed.head + 1,
        s"${tasks.get} tasks for ${probed.head} probed buckets and 1 reduce partition")
    } finally LayoutOps.purgeAll(spark, Sf)
  }

  test("a request over the persisted IVF-PQ layout reads no corpus and no session cache") {
    try {
      val sv = persistedHandle()
      val queries = fixtureQueries()
      val before = AnnOps.ivfPqSearchTables(spark, Sf, sv, queries)
        .collect().map(_.toString).sorted.toSeq
      Memo.clear(spark)
      val df = AnnOps.ivfPqSearchTables(spark, Sf, sv, queries)
      val after = df.collect().map(_.toString).sorted.toSeq
      assert(after == before, "rows changed once the session registry was cleared")
      assert(after.length == 4 * 10, s"expected 10 hits per vector: ${after.length}")
      val plan = df.queryExecution.executedPlan
      val cached = collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }
      assert(cached.isEmpty, s"a request read a session-cached frame:\n$plan")
      val corpusScans = collectWithSubqueries(plan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("embeddings")) => s
      }
      assert(corpusScans.isEmpty, s"a request scanned the corpus:\n$plan")
    } finally LayoutOps.purgeAll(spark, Sf)
  }

  test("a second encode over the same PQ handle adds no broadcast block") {
    val vecs = Tables.embeddings(spark, Sf).filter(col("vec_id") % 10 === 7)
      .select("vec_id", "embedding")
    for (encoding <- Seq(SessionIndex.Pq, SessionIndex.PqRes())) {
      val sv = AnnOps.sessionServing(spark, Sf, encoding)
      AnnOps.codedRowsFor(sv, vecs)
      val before = DriverBroadcastBlocks(spark.sparkContext)
      val coded = AnnOps.codedRowsFor(sv, vecs)
      val added = DriverBroadcastBlocks(spark.sparkContext) -- before
      assert(added.isEmpty, s"$encoding: the second encode broadcast $added")
      assert(coded.count() > 0)
    }
  }

  test("the encode of every codec runs without a shuffle, an aggregate or a sort-merge join") {
    // IVFADC's code is a per-vector function (assign, then quantize the
    // vector or its residual subspace by subspace), so the encode is a
    // projection of the assigned rows; residual PQ keeps only its
    // m-row centroid broadcast join. The batch is a local frame, as a
    // delta arrives: the corpus table's own read spreads by vec_id.
    val batch = Tables.embeddings(spark, Sf).filter(col("vec_id") % 10 === 7)
      .select("vec_id", "embedding")
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList(batch.collect(): _*), batch.schema)
    for (index <- Seq(SessionIndex.Flat(), SessionIndex.Sq8, SessionIndex.Pq,
        SessionIndex.PqRes())) {
      val coded = AnnOps.codedRowsFor(AnnOps.sessionServing(spark, Sf, index), vecs)
      assert(coded.collect().nonEmpty, index)
      val plan = coded.queryExecution.executedPlan
      val heavy = collectWithSubqueries(plan) {
        case p: ShuffleExchangeExec => p
        case p: HashAggregateExec => p
        case p: SortMergeJoinExec => p
      }
      assert(heavy.isEmpty, s"$index: the encode plans ${heavy.map(_.nodeName)}:\n$plan")
    }
  }
}
