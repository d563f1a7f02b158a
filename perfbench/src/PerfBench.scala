package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The repo benchmark driver: one workload, one seed, one process.
  *
  *   PerfBench <workload> <seed> <seconds> <trace 0|1> <runDir> <benchDir>
  *
  * `runDir/data` holds the seeded inputs written by gen.py; every
  * store the workload writes (warehouse, upsert table, mirror, Kafka
  * stand-in) is under `runDir`. The last stdout line is
  * `PERFBENCH_RESULT {json}`.
  */
object PerfBench {

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
      tracer: Tracer, meter: Option[StageMeter], runDir: String,
      benchDir: String) {
    def trace: Boolean = tracer.on
    def sc = spark.sparkContext
    def span[A](name: String, req: String)(f: => A): A = tracer.span(name, req)(f)
    /** Run `f` with its jobs tagged `group` (thread-local). */
    def group[A](g: String)(f: => A): A = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }
  }

  /** What a workload measured. `latencies` are per operation (batch
    * or request), `setup` one entry per set-up repetition.
    */
  final case class Outcome(setup: Seq[Double], latencies: Seq[Double],
      items: Long, wallS: Double, attempted: Long, failed: Long,
      clients: Int, extra: Seq[(String, Double)], layers: Seq[(String, Double)])

  val PerLayer: Seq[String] = Seq(
    "streaming.enrich_s", "streaming.envelope_s", "plugins.pipeline_s",
    "plugins.rows_kept_ratio", "sources.upsert_s",
    "sources.upsert_bytes_read_per_input_byte",
    "sources.upsert_bytes_written_per_input_byte",
    "sources.upsert_partitions_touched", "sources.table_files",
    "sources.mirror_s", "sources.kafka_write_s", "sources.readback_p50_s",
    "sources.stored_bytes_per_input_byte",
    "Tables.layout_build_bytes_read", "sources.layout_build_s", "sources.layout_reload_s",
    "operators.search_build_s", "plans.search_planning_s",
    "spark.search_exec_s", "sources.layout_bytes_read_per_vector",
    "sources.layout_files_read_per_request", "operators.recall_at_10",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.shuffle_write_bytes_per_op",
    "spark.executor_cpu_s_per_op", "spark.task_wait_s", "spark.gc_s",
    "spark.spill_bytes_per_op", "trace.overhead_s_per_op")

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, benchDir) = argv
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    val tracer = new Tracer(traceS == "1")
    val meter = if (tracer.on) {
      val m = new StageMeter; spark.sparkContext.addSparkListener(m); Some(m)
    } else None
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, tracer, meter,
      runDir, benchDir)
    val out = try runWorkload(workload, ctx)
    finally PerfbenchBus.drain(spark.sparkContext)
    if (tracer.on) Files.writeString(Paths.get(runDir, "spans.json"), tracer.toJson)
    val lat = out.latencies
    val metrics = Seq(
      "setup_s" -> Stats.median(out.setup),
      "items_per_s" -> out.items / out.wallS,
      "latency_p50_s" -> Stats.pct(lat, 0.5))
    val layerMap = out.layers.toMap
    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> seedS,
      "nproc" -> cores.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "client_threads" -> out.clients.toString,
      "seconds" -> secondsS, "trace" -> traceS,
      "setup_samples" -> out.setup.size.toString,
      "latency_samples" -> lat.size.toString,
      "latency_p90_s" -> Json.num(Stats.pct(lat, 0.9)),
      "samples_beyond_p90" -> Stats.beyond(lat, 0.9).toString,
      "wall_s" -> Json.num(out.wallS), "items" -> out.items.toString)
    val result = Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(PerLayer.map(k => k -> Json.num(layerMap.getOrElse(k, 0.0)))),
      "extra" -> Json.obj(out.extra.map { case (k, v) => k -> Json.num(v) }),
      "stamp" -> Json.obj(stamp)))
    spark.stop()
    phase("stopped")
    println("PERFBENCH_RESULT " + result)
  }

  def runWorkload(workload: String, ctx: Ctx): Outcome = workload match {
    case "ingest" => Ingest.run(ctx)
    case "vector_serving" => Vector.run(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  // -- shared helpers ---------------------------------------------------

  /** Progress line on stderr: seconds since JVM start. */
  def phase(name: String): Unit = System.err.println(f"phase $name%-10s at ${
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toList.foreach(deleteRec)
    Files.delete(p)
  }

  /** Data bytes and files under a table root (hidden/_ files excluded). */
  def tableFiles(root: String): (Long, Int) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f => val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".") }.toList
      (fs.map(Files.size).sum, fs.size)
    }
  }

  /** How many blocks of a workload's operations a run measures:
    * `seconds` over the nominal seconds one block takes on a 4-vCPU VM,
    * rounded, at least 1. The count depends on `seconds` alone, never on
    * how fast the program runs, so every run of a workload does the same
    * work at the same point of the JVM's warm-up. (Latency keeps falling
    * over the first minute of a run, so a deadline would let a faster
    * program measure more, warmer operations.)
    */
  def blocks(ctx: Ctx, nominalBlockS: Double): Int =
    math.max(1, math.round(ctx.seconds / nominalBlockS).toInt)

  /** Closed loop: `clients` threads each take the next operation index
    * below `ops` and run it. Returns per-op latencies by index, the
    * loop's wall time, and the failures `op` reported (an exception
    * counts as one).
    */
  def closedLoop(clients: Int, ops: Int)(
      op: (Int, Int) => Int): (Seq[(Int, Double)], Double, Long) = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new AtomicLong(0)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < ops) {
          val s = System.nanoTime()
          val bad = try op(c, i) catch {
            case e: Throwable =>
              System.err.println(s"op $i failed: $e"); 1
          }
          lat.add(i -> (System.nanoTime() - s) / 1e9)
          failed.addAndGet(bad)
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (lat.asScala.toSeq.sortBy(_._1), (System.nanoTime() - t0) / 1e9, failed.get())
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def beyond(xs: Seq[Double], q: Double): Int =
    if (xs.isEmpty) 0 else { val p = pct(xs, q); xs.count(_ > p) }
}
