package perfbench

import scala.jdk.CollectionConverters._

import graft.Memo
import graft.operators.{AnnOps, LayoutOps}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

/** `vector_serving`: IVF-PQ top-k search served from persisted bucketed
  * layouts. Set-up builds the layouts cold, drops the catalog to force
  * the re-register path a restarted session takes, and builds the
  * serving state; client threads then send seeded request batches of
  * 1-32 query vectors.
  */
object Vector extends AdaptiveSparkPlanHelper {
  import PerfBench._

  // two client threads, never more than the cores
  val Clients: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  val SetupReps = 3
  val K = 10
  val Families = Seq("ivf_quantizer", "pq_book", "ivfpq_lists")
  val RecallFloor = 0.8
  val WarmBlocks = 2
  // nominal seconds of one block of 8 requests under two clients
  val BlockS = 4.0

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.runDir}/data"

    // corpus on the driver for the exact cosine top-10
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> unit(r.getSeq[Float](1)))
    val reqRows = spark.read.parquet(s"$dir/requests.parquet").collect()
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val requests = reqRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.map(r => (r.getLong(2), r.getSeq[Float](3), r.getString(4))).toSeq
    }.toIndexedSeq
    // requests per block: a block holds every request size once
    val block = reqRows.filter(_.getInt(1) == 0).map(_.getInt(0)).distinct.length

    var sv: AnnOps.IvfPqServing = null
    val buildS = Seq.newBuilder[Double]; val reloadS = Seq.newBuilder[Double]
    val setup = (0 until SetupReps).map { r =>
      val req = s"setup$r"
      LayoutOps.purgeAll(spark, dir)
      Memo.clear(spark)
      timed { ctx.span("setup", req) {
        buildS += timed { ctx.span("sources.layout_build", req) {
          ctx.group(s"$req/layout_build") {
            Families.foreach(f => LayoutOps.ensure(spark, dir, f)) } } }._2
        reloadS += timed { ctx.span("sources.layout_reload", req) {
          LayoutOps.dropCatalogEntries(spark, dir)
          sv = LayoutOps.ivfPqServing(spark, dir) } }._2
      } }._2
    }

    phase("setup")
    val filesRead = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def search(i: Int, req: String): Array[Row] = ctx.span("request", req) { ctx.group(req) {
      val qdf = spark.createDataFrame(
        java.util.Arrays.asList(requests(i).map(q => Row(q._1, q._2)): _*), schema)
      val df = ctx.span("operators.search_build", req)(
        AnnOps.ivfPqSearchTables(spark, dir, sv, qdf, k = K))
      if (ctx.trace) ctx.span("plans.search_planning", req)(df.queryExecution.executedPlan)
      val out = ctx.span("spark.search_exec", req)(df.collect())
      if (ctx.trace && req.startsWith("v"))
        filesRead.add(collectWithSubqueries(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum)
      out
    } }

    // untimed warm-up: the last WarmBlocks blocks of the sequence, from
    // the same clients (the first requests of a run are the slowest)
    val warm = WarmBlocks * block
    closedLoop(Clients, warm) { (_, i) =>
      search(requests.size - warm + i, s"warm$i"); 0 }

    phase("warmed")
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Array[Row]]()
    val measured = math.min(blocks(ctx, BlockS) * block, requests.size - warm)
    val (lat, wall, bad) = closedLoop(Clients, measured) { (_, i) =>
      results.put(i, search(i, s"v$i")); 0
    }
    phase("measured")

    // output checks, untimed: K rows per query vector, and recall@K
    // against the exact cosine top-K
    var wrong = 0L
    val recalls = results.asScala.toSeq.flatMap { case (i, rows) =>
      val byQ = rows.groupBy(_.getLong(0))
      val qs = requests(i)
      val short = qs.count { case (id, _, _) => byQ.get(id).forall(_.length != K) }
      if (short > 0) {
        wrong += 1
        System.err.println(s"check failed: request $i: $short vectors without $K rows")
      }
      qs.collect { case (id, v, kind) if kind != "far" =>
        val exact = exactTopK(corpus, unit(v))
        byQ.getOrElse(id, Array.empty[Row]).count(r => exact(r.getLong(1))).toDouble / K
      }
    }
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    val recallBad = if (recall < RecallFloor) {
      System.err.println(s"check failed: recall@$K $recall < $RecallFloor"); 1
    } else 0
    val vectors = lat.map(x => requests(x._1).size.toLong).sum
    val layers = Seq.newBuilder[(String, Double)]
    layers += "operators.recall_at_10" -> recall
    layers += "sources.layout_build_s" -> Stats.median(buildS.result())
    layers += "sources.layout_reload_s" -> Stats.median(reloadS.result())
    ctx.meter.foreach { m =>
      PerfbenchBus.drain(ctx.sc)
      val ops = lat.size.toDouble
      val all = m.sum(_.startsWith("v"))
      // the layout build's scans of the corpus table (Tables.embeddings)
      layers += "Tables.layout_build_bytes_read" ->
        m.sum(_.endsWith("/layout_build")).inputBytes / SetupReps.toDouble
      Seq("operators.search_build_s" -> "operators.search_build",
        "plans.search_planning_s" -> "plans.search_planning",
        "spark.search_exec_s" -> "spark.search_exec")
        .foreach { case (k, s) => layers += k -> ctx.tracer.meanSelf(s, "v") }
      layers += "sources.layout_bytes_read_per_vector" -> all.inputBytes / vectors.toDouble
      layers += "sources.layout_files_read_per_request" -> {
        val xs = filesRead.asScala
        if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size }
      layers += "spark.jobs_per_op" -> all.jobs / ops
      layers += "spark.tasks_per_op" -> all.tasks / ops
      layers += "spark.shuffle_write_bytes_per_op" -> all.shuffleWrite / ops
      layers += "spark.executor_cpu_s_per_op" -> all.cpuNs / 1e9 / ops
      layers += "spark.task_wait_s" -> all.waitMs / 1e3 / ops
      layers += "spark.gc_s" -> all.gcMs / 1e3 / ops
      layers += "spark.spill_bytes_per_op" -> all.spill / ops
    }
    Outcome(setup, lat.map(_._2), vectors, wall, lat.size + 1L, bad + wrong + recallBad,
      Clients, Seq("recall_at_10" -> recall), layers.result())
  }

  private def unit(v: scala.collection.Seq[Float]): Array[Double] = {
    val a = v.map(_.toDouble).toArray
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }

  /** Exact cosine top-K ids (ties by id ascending). */
  private def exactTopK(corpus: Array[(Long, Array[Double])], q: Array[Double]): Set[Long] =
    corpus.map { case (id, c) =>
      var s = 0.0; var j = 0
      while (j < q.length) { s += q(j) * c(j); j += 1 }
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
}
