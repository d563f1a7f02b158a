package graft

import org.apache.spark.sql.SparkSession

/** Bounded driver-side concurrency for INDEPENDENT Spark actions
  * (guide §2.6: Spark's scheduler happily runs several jobs at once;
  * actions are only sequential because driver code calls them
  * sequentially). Used by the warm-up/layout-build paths, where each
  * task derives a different standing artifact: overlapping them lets
  * one job's tasks back-fill executor slots left idle by another
  * job's driver phases (planning, codegen, collects) and stage tails.
  *
  * Results are identical to sequential execution — shared derivations
  * build once in Memo and under LayoutStore's per-table locks; only
  * wall-clock changes. Parallelism derives from the session's core
  * count (scale-adaptive, not a local[32] constant).
  */
object Par {
  def width(spark: SparkSession, tasks: Int): Int =
    math.min(tasks,
      math.min(8, math.max(2, spark.sparkContext.defaultParallelism / 4)))

  def run[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    val par = width(spark, tasks.size)
    if (par <= 1) tasks.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(tasks.map(t => Future(t()))),
        Duration.Inf)
      finally pool.shutdown()
    }
  }
}
