package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{AnnOps, LayoutOps}
import org.apache.spark.{DriverBroadcastBlocks, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** The per-request job budget of IVF serving: a request computes its
  * query side on the driver, runs no global sort and re-ranks from the
  * probed lists' in-row floats, so the jobs it starts are the probed-list
  * scan and its one shuffle, not fixed per-query machinery.
  */
class IvfRequestJobsSpec extends GraftSpec with AdaptiveSparkPlanHelper {

  private val MaxJobs = 3

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
    for (encoding <- Seq("pq", "pq_res")) {
      val sv = AnnOps.sessionServing(spark, Sf, encoding)
      AnnOps.codedRowsFor(spark, sv, vecs)
      val before = DriverBroadcastBlocks(spark.sparkContext)
      val coded = AnnOps.codedRowsFor(spark, sv, vecs)
      val added = DriverBroadcastBlocks(spark.sparkContext) -- before
      assert(added.isEmpty, s"$encoding: the second encode broadcast $added")
      assert(coded.count() > 0)
    }
  }
}
