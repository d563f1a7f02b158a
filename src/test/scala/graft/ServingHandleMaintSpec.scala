package graft

import scala.collection.mutable.ArrayBuffer

import graft.operators.{AnnOps, LayoutOps}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A serving handle held across layout maintenance. Compaction
  * re-registers a lists or graph table over new files and an append
  * adds files; a handle built before either — by a batch caller or at
  * the start of a search stream — serves the table as it is now, row
  * for row what a fresh handle serves.
  */
class ServingHandleMaintSpec extends GraftSpec {

  private def withCleanLayouts[T](body: => T): T =
    try { LayoutOps.purgeAll(spark, Sf); body }
    finally LayoutOps.purgeAll(spark, Sf)

  // members of the delta split (vec_id % 10 = 7): an append adds each
  // query's own vector, so the served rows change with it
  private val queryIds = Seq(7L, 107L, 207L, 307L)

  private def queries: DataFrame = Tables.embeddings(spark, Sf)
    .filter(col("vec_id").isin(queryIds: _*)).select("vec_id", "embedding")

  private def served(sv: AnnOps.IvfPqServing): Seq[String] =
    AnnOps.ivfPqSearchTables(spark, Sf, sv, queries).collect()
      .map(_.toString).toSeq.sorted

  test("a held persisted handle serves the table a compaction re-registered") {
    withCleanLayouts {
      val held = LayoutOps.ivfPqServing(spark, Sf)
      val before = served(held)
      assert(before.length == queryIds.size * 10)
      assert(LayoutOps.compactIfNeeded(spark, Sf, "ivfpq_lists", maxFiles = 0))
      assert(served(held) == served(LayoutOps.ivfPqServing(spark, Sf)))
      assert(served(held) == before, "compaction changed the served rows")
      // the per-request price of resolving the table again
      val n = 50
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => held.lists.queryExecution.analyzed)
      info(f"re-resolving the lists table: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms per request")
    }
  }

  test("a running layout search stream serves across a compaction") {
    withCleanLayouts {
      val d = java.nio.file.Files.createTempDirectory("ann_stream_compact")
        .toFile.getAbsolutePath
      queries.filter(col("vec_id") < 200).write.mode("overwrite").parquet(d)
      val got = ArrayBuffer.empty[String]
      val q = StreamOps.annSearchStreamFromLayout(spark, Sf,
        spark.readStream.schema(queries.schema).parquet(d),
        (res, _) => got.synchronized { got ++= res.collect().map(_.toString) })
      try {
        q.processAllAvailable()
        assert(LayoutOps.compactIfNeeded(spark, Sf, "ivfpq_lists", maxFiles = 0))
        queries.filter(col("vec_id") >= 200).write.mode("append").parquet(d)
        q.processAllAvailable()
        assert(got.toSeq.sorted == served(LayoutOps.ivfPqServing(spark, Sf)))
      } finally q.stop()
    }
  }

  test("a running graph search stream serves across a compaction of graph_adj") {
    withCleanLayouts {
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
      val d = java.nio.file.Files.createTempDirectory("graph_stream_compact")
        .toFile.getAbsolutePath
      queries.filter(col("vec_id") < 200).write.mode("overwrite").parquet(d)
      val got = ArrayBuffer.empty[String]
      val q = StreamOps.graphSearchStreamFromLayout(spark, Sf,
        spark.readStream.schema(queries.schema).parquet(d),
        (res, _) => got.synchronized { got ++= rows(res) })
      try {
        q.processAllAvailable()
        assert(LayoutOps.compactIfNeeded(spark, Sf, "graph_adj", maxFiles = 0))
        queries.filter(col("vec_id") >= 200).write.mode("append").parquet(d)
        q.processAllAvailable()
        val fresh = AnnOps.graphSearchOn(spark, Sf,
          AnnOps.walkEdges(LayoutOps.table(spark, Sf, "graph_adj"),
            LayoutOps.table(spark, Sf, "graph_down")),
          LayoutOps.table(spark, Sf, "graph_anchors"), queries)
        assert(got.toSeq.sorted == rows(fresh).sorted)
      } finally q.stop()
    }
  }

  test("a held handle over a grown table serves each append and the compaction after it") {
    withCleanLayouts {
      def fresh() = LayoutOps.grownServing(spark, Sf, residual = false)
      val held = fresh()
      val before = served(held)
      assert(LayoutOps.appendDelta(spark, Sf), "the append must run")
      assert(held.lists.count() == fresh().lists.count())
      val appended = served(held)
      assert(appended == served(fresh()))
      assert(appended != before, "the append is not served")
      assert(LayoutOps.compactIfNeeded(spark, Sf, LayoutOps.GrowFamily, maxFiles = 0))
      assert(served(held) == served(fresh()))
      assert(served(held) == appended, "compaction changed the served rows")
    }
  }
}
