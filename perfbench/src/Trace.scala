package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span on the
  * same thread (0 = none); spans of one request share `req`.
  */
final case class Span(id: Int, name: String, parent: Int, req: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Off, `span` is a plain call. Spans are only
  * written out (and self times only computed) at the end of a run.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[A](name: String, req: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, parents.headOption.getOrElse(0), req, t0,
          System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time of every span: its duration minus the time its children
    * (same thread, nested) cover.
    */
  def selfSeconds: Map[Int, Double] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    s.map(x => x.id -> ((x.endNs - x.startNs - childNs.getOrElse(x.id, 0L)) / 1e9)).toMap
  }

  /** Mean self seconds of the spans called `name` whose request id
    * starts with `req` (0 when there are none).
    */
  def meanSelf(name: String, req: String): Double = {
    val self = selfSeconds
    val xs = all.filter(x => x.name == name && x.req.startsWith(req)).map(x => self(x.id))
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  def toJson: String = {
    val self = selfSeconds
    all.map { x =>
      s"""{"id":${x.id},"name":${Json.str(x.name)},"parent":${x.parent},""" +
        s""""req":${Json.str(x.req)},"start_ns":${x.startNs},"end_ns":${x.endNs},""" +
        s""""self_s":${self(x.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Executor-side work per job group, from the listener bus. The bench
  * tags every request's jobs with a job group (`<req>` or
  * `<req>/<step>`), so stage metrics attribute to the request.
  */
final class StageMeter extends SparkListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var inputBytes = 0L
    var outputBytes = 0L; var spill = 0L; var waitMs = 0L
  }
  private val byGroup = mutable.Map[String, Agg]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobSubmit = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobStarted = mutable.Set[Int]()

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
    jobSubmit(e.jobId) = e.time
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (!jobStarted(j)) {
        jobStarted += j
        jobSubmit.get(j).foreach { t0 =>
          agg(stageGroup(e.stageId)).waitMs += math.max(0L, e.taskInfo.launchTime - t0)
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
    val a = agg(g)
    val m = e.stageInfo.taskMetrics
    a.tasks += e.stageInfo.numTasks
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sum over the groups accepted by `p`. */
  def sum(p: String => Boolean): Agg = synchronized {
    val r = new Agg
    byGroup.foreach { case (g, a) if p(g) =>
      r.jobs += a.jobs; r.tasks += a.tasks; r.cpuNs += a.cpuNs; r.gcMs += a.gcMs
      r.shuffleWrite += a.shuffleWrite; r.inputBytes += a.inputBytes
      r.outputBytes += a.outputBytes
      r.spill += a.spill; r.waitMs += a.waitMs
    case _ => () }
    r
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
