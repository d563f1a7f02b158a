package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A memoized pinned frame (re-rooted on a persisted RDD) together
  * with the persisted handle backing it, so [[Memo]] eviction can
  * release the storage — `df.unpersist` would not reach an RDD that
  * was persisted directly.
  */
final case class PinnedDf(df: DataFrame, handle: org.apache.spark.rdd.RDD[_])

object PinnedDf {

  /** Materialize `d` on an RDD persisted `MEMORY_AND_DISK` and re-root
    * it there: the returned frame's plan is one LogicalRDD leaf, so a
    * chain of pins (NN-descent rounds, beam hops, MMR steps, delta
    * stages) keeps every downstream plan one level deep instead of
    * re-carrying the whole recursive lineage through Catalyst. The RDD
    * keeps its lineage, so executor loss degrades to recomputation.
    * The caller owns the release (`handle.unpersist`, or registering
    * the pin in [[Memo]]). A pinned frame carries no size statistics:
    * joins against it hint their broadcast side explicitly.
    */
  def of(d: DataFrame): PinnedDf = {
    val rdd = d.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    PinnedDf(d.sparkSession.createDataFrame(rdd, d.schema), rdd)
  }
}

/** Session-scoped registry of shared derived state: persisted frames
  * (shingle explosions, embedding norms, IVF lists), collected model
  * artifacts, quantizer broadcasts, re-rooted pins.
  *
  * Why: these derivations are used by several queries in one session
  * (and twice within one query's self-join); re-deriving or
  * re-persisting them per call repeats the work and, under concurrent
  * callers, races duplicate builds.
  *
  * One map from (session, key) to a future of the value. Guarantees:
  *  - a hit is a lock-free map `get` of a completed future;
  *  - build-once per entry: the caller whose `putIfAbsent` inserts the
  *    future runs the build, outside any shared lock, and every
  *    concurrent caller of the key joins that future — distinct keys
  *    build concurrently, and a build may register other keys (the
  *    derivation graph is acyclic; a build that asked for its own key
  *    would wait on itself);
  *  - a build that throws removes its entry (the next call retries)
  *    and its joiners rethrow its exception;
  *  - eviction ([[invalidate]], [[invalidatePrefix]], [[clear]],
  *    [[replaceValue]]) removes the entry and releases its value
  *    exactly once — an entry still building is released when its
  *    build completes, so a build in flight across an eviction never
  *    registers. Its own caller still receives the value: a released
  *    frame recomputes from lineage, a destroyed broadcast fails the
  *    query that reads it.
  *
  * Entries are keyed by the session instance so a stopped test session
  * can never leak its cached plan into a fresh one. Keys of state
  * derived from a directory are `name:dir[:variant]` (names and paths
  * contain no ':').
  */
object Memo {
  private type Key = (SparkSession, String)
  private val entries = new ConcurrentHashMap[Key, CompletableFuture[AnyRef]]()

  /** Build-once persisted DataFrame for `key` within this session:
    * [[value]] of the persisted frame. Persisting is lazy; Spark's
    * block-level locks serialize concurrent materializations of it.
    */
  def df(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    value(spark, key)(build.persist())

  /** Build-once value (a collected model artifact, a broadcast, a
    * [[PinnedDf]], a warm count) for `key` within this session.
    */
  def value[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val k = (spark, key)
    val hit = entries.get(k)
    if (hit != null) await(hit)
    else {
      val mine = new CompletableFuture[AnyRef]()
      val prev = entries.putIfAbsent(k, mine)
      if (prev != null) await(prev) else fill(k, mine, build)
    }
  }

  /** REPLACE the value under `key`: build a new one, register it, and
    * release the old entry once the new one is built — the lifecycle
    * for STANDING state an owner refreshes between consumers (a walk's
    * final beam pin per call or micro-batch). Unlike [[value]], this
    * always builds; callers of the key during the build join the new
    * one. Releasing a pin mid-consumption is SAFE (Spark recomputes the
    * frame from lineage) but defeats the pin, so owners call this only
    * at refresh points — when the previous value's consumers have
    * materialized.
    */
  def replaceValue[T <: AnyRef](spark: SparkSession, key: String)(
      build: => T): T = {
    val k = (spark, key)
    val mine = new CompletableFuture[AnyRef]()
    val old = entries.put(k, mine)
    try fill(k, mine, build) finally if (old != null) releaseWhenBuilt(old)
  }

  /** Run `build` for the entry `mine` the caller just registered under
    * `k`; completing it hands the value to its joiners — and to the
    * release of an eviction that removed it meanwhile.
    */
  private def fill[T <: AnyRef](k: Key, mine: CompletableFuture[AnyRef],
      build: => T): T = {
    val b = try build catch {
      case t: Throwable =>
        entries.remove(k, mine)
        mine.completeExceptionally(t)
        throw t
    }
    mine.complete(b)
    b
  }

  private def await[T](f: CompletableFuture[AnyRef]): T =
    try f.join().asInstanceOf[T]
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }

  /** Drop (and release) this session's entries derived from data
    * under `dir`. The repo's one directory writer,
    * [[graft.sources.DirSwap]] (behind UpsertSink,
    * writePartitionedByDate, CompactionOps and the layout compaction),
    * calls this after swapping files there, so
    * memoized derivations cannot serve stale data within a session;
    * for inputs mutated by anything else, the contract is
    * immutable-input-per-session. The dir segment of a
    * `name:dir[:variant]` key is matched EXACTLY — `/data/sf1` must not
    * invalidate `/data/sf10`'s derivations.
    */
  def invalidate(spark: SparkSession, dir: String): Unit =
    evictWhere(spark) { key =>
      val i = key.indexOf(':')
      i >= 0 && {
        val rest = key.substring(i + 1)
        rest == dir || rest.startsWith(dir + ":")
      }
    }

  /** Drop (and release) this session's entries whose FULL key
    * starts with `prefix` — the narrow invalidation for memos built
    * over LAYOUT TABLES (`standingServe:…`, `layoutGraphBeam:…`),
    * which die with their table (DROP TABLE uncaches dependent plans,
    * so a surviving memo entry would recompute against deleted
    * files), and for one filtered-beam predicate's hop pins. Narrower
    * than [[invalidate]] so a layout purge does not evict the
    * session's source-parquet derivations.
    */
  def invalidatePrefix(spark: SparkSession, prefix: String): Unit =
    evictWhere(spark)(_.startsWith(prefix))

  /** Drop (and release) everything registered for this session — the
    * test teardown and benchmark set-up hook; harmless if empty.
    */
  def clear(spark: SparkSession): Unit = evictWhere(spark)(_ => true)

  private def evictWhere(spark: SparkSession)(matches: String => Boolean): Unit =
    entries.forEach { (k, f) =>
      if ((k._1 eq spark) && matches(k._2) && entries.remove(k, f))
        releaseWhenBuilt(f)
    }

  /** Test/inspection hook: is anything registered under `key`? */
  private[graft] def hasKey(spark: SparkSession, key: String): Boolean =
    entries.containsKey((spark, key))

  /** Release a removed entry's value once its build completes (at
    * once if it already has; never if the build threw). Values may
    * hold cluster-side resources: persisted frames, pinned RDDs, the
    * IVF model broadcast.
    */
  private def releaseWhenBuilt(f: CompletableFuture[AnyRef]): Unit = {
    f.thenAccept { (v: AnyRef) =>
      try v match {
        case d: org.apache.spark.sql.Dataset[_] => d.unpersist(false)
        case b: org.apache.spark.broadcast.Broadcast[_] => b.destroy()
        case PinnedDf(_, handle) => handle.unpersist(false)
        case _ => ()
      } catch { case _: Throwable => () }
      ()
    }
    ()
  }
}
