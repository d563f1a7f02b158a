package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.operators.AnnOps
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}

/** The session registry's contract: build-once under concurrent
  * callers, no registration by a build in flight across `clear`, a
  * failed build leaves its key buildable, nested registration of
  * distinct keys completes.
  */
class MemoSpec extends GraftSpec {

  private val Callers = 4

  // one thread per blocked caller, whatever the core count
  private val threads = Executors.newCachedThreadPool()
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(threads)

  override protected def afterAll(): Unit = {
    threads.shutdownNow()
    super.afterAll()
  }

  /** Run `body(i)` on [[Callers]] threads released together by one
    * latch; fails if any caller has not returned within a minute.
    */
  private def together[T](body: Int => T): Seq[T] = {
    val go = new CountDownLatch(1)
    val fs = (0 until Callers).map(i => Future { go.await(); body(i) })
    go.countDown()
    Await.result(Future.sequence(fs), 1.minute)
  }

  test("concurrent callers of one key build it once through value, df and standingPinned's warm count") {
    val valueBuilds = new AtomicInteger
    val vs = together { _ =>
      Memo.value(spark, "memoSpecValue:once") {
        valueBuilds.incrementAndGet(); Thread.sleep(200); new Object
      }
    }
    assert(valueBuilds.get == 1)
    assert(vs.forall(_ eq vs.head), "every caller must get the one built value")

    val dfBuilds = new AtomicInteger
    val ds = together { _ =>
      Memo.df(spark, "memoSpecDf:once") {
        dfBuilds.incrementAndGet(); Thread.sleep(200); spark.range(10).toDF()
      }
    }
    assert(dfBuilds.get == 1)
    assert(ds.forall(_ eq ds.head))

    // the warm count is a Spark job: count the job groups that ran one
    val slow = udf { (x: Long) => Thread.sleep(100); x }
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("memoSpecWarm")).foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      together { i =>
        spark.sparkContext.setJobGroup(s"memoSpecWarm$i", "warm", interruptOnCancel = false)
        try AnnOps.standingPinned(spark, "memoSpecDir", "once")(
          spark.range(0, 8, 1, 4).select(slow(col("id")).as("id")))
        finally spark.sparkContext.clearJobGroup()
      }
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(groups.size == 1, s"warm count ran in ${groups.size} callers: $groups")
    Memo.clear(spark)
  }

  /** Start a `register` whose build pins a frame and then waits; clear
    * the session while it waits; let it finish. Returns the pin's RDD
    * id.
    */
  private def buildAcrossClear(key: String)(
      register: (=> PinnedDf) => PinnedDf): Int = {
    val started = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    val pinned = new AtomicReference[PinnedDf]
    val builder = Future {
      register {
        val p = PinnedDf.of(spark.range(100).toDF())
        pinned.set(p)
        started.countDown()
        proceed.await()
        p
      }
    }
    assert(started.await(1, TimeUnit.MINUTES))
    // clear may wait for the build (a lock-based registry) or not: run
    // it beside the test thread, which releases the build either way
    val clearing = Future(Memo.clear(spark))
    Thread.sleep(300)
    proceed.countDown()
    Await.result(builder, 1.minute)
    Await.result(clearing, 1.minute)
    pinned.get.handle.id
  }

  test("a value build in flight across clear registers nothing and its pin is released") {
    val key = "memoSpecPin:value"
    val id = buildAcrossClear(key)(b => Memo.value(spark, key)(b))
    assert(!Memo.hasKey(spark, key), "the in-flight build registered after clear")
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "the in-flight build's pinned RDD is still persisted")
  }

  test("a replaceValue build in flight across clear registers nothing and its pin is released") {
    val key = "memoSpecPin:replace"
    val id = buildAcrossClear(key)(b => Memo.replaceValue(spark, key)(b))
    assert(!Memo.hasKey(spark, key), "the in-flight build registered after clear")
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "the in-flight build's pinned RDD is still persisted")
  }

  test("a build that throws leaves its key buildable") {
    val key = "memoSpecFail:k"
    val e = intercept[IllegalStateException] {
      Memo.value[AnyRef](spark, key)(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(!Memo.hasKey(spark, key))
    assert(Memo.value(spark, key)("built") == "built")
    assert(Memo.hasKey(spark, key))
    Memo.clear(spark)
  }

  test("nested registration of two distinct keys completes") {
    val outer = Future {
      Memo.value(spark, "memoSpecNest:outer") {
        val inner = Memo.df(spark, "memoSpecNest:inner")(spark.range(5).toDF())
        java.lang.Long.valueOf(inner.count())
      }
    }
    assert(Await.result(outer, 1.minute).longValue == 5L)
    assert(Memo.hasKey(spark, "memoSpecNest:inner"))
    Memo.clear(spark)
  }
}
