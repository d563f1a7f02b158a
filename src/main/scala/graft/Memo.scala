package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.function.{Function => JFunction}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A memoized pinned frame (re-rooted on a persisted RDD) together
  * with the persisted handle backing it, so [[Memo]] eviction can
  * release the storage — `df.unpersist` would not reach an RDD that
  * was persisted directly.
  */
final case class PinnedDf(df: DataFrame, handle: org.apache.spark.rdd.RDD[_])

/** Session-scoped memoization for shared derived tables (shingle
  * explosions, embedding norms, IVF index artifacts).
  *
  * Why: these derivations are used by several queries in one session
  * (and twice within one query's self-join). Re-calling `.persist()`
  * on a structurally identical plan per invocation floods the log with
  * `CacheManager: Asked to cache already cached data` and, under the
  * concurrent bench, races conc streams into duplicate derivations.
  * Memoizing the DataFrame instance per (session, key) persists each
  * artifact exactly once; `computeIfAbsent` makes the registration
  * atomic (Spark's own block-level cache locks serialize the actual
  * materialization).
  *
  * Entries are keyed by the session instance so a stopped test session
  * can never leak its cached plan into a fresh one.
  */
object Memo {
  private val cache = new ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val buildLock = new Object
  // Per-KEY build locks (r15 opt): the single global buildLock made
  // every memo build serialize behind every other — fatal for the
  // parallel warm-up/layout build (guide §2.6, overlap independent
  // jobs), where N worker threads each derive DIFFERENT artifacts.
  // A per-key monitor keeps the build-once guarantee per artifact
  // while letting distinct artifacts build concurrently; nested
  // registration (an artifact building on another) takes the other
  // key's lock — safe because the derivation graph is acyclic.
  private val keyLocks = new ConcurrentHashMap[(SparkSession, String), Object]()
  private def lockFor(k: (SparkSession, String)): Object =
    keyLocks.computeIfAbsent(k, (_: (SparkSession, String)) => new Object)

  /** Build-once persisted DataFrame for `key` within this session.
    * A per-key reentrant monitor (not computeIfAbsent, which forbids
    * the nested registration a layout artifact building on another one
    * needs) guards the build; plan construction + persist registration
    * are lazy and cheap, and DISTINCT keys build concurrently (the
    * parallel warm-up requirement — Spark's block-level cache locks
    * serialize any racing materialization of one persisted frame).
    */
  def df(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (spark, key)
    val hit = cache.get(k)
    if (hit != null) hit
    else lockFor(k).synchronized {
      val again = cache.get(k)
      if (again != null) again
      else { val b = build.persist(); cache.put(k, b); b }
    }
  }

  /** REPLACE the value under `key`: release the old entry (if any)
    * and register the new one — the lifecycle for STANDING state an
    * owner refreshes between consumers (a walk's final beam pin per
    * call or micro-batch). Unlike [[value]], this always builds.
    * Releasing a pin mid-consumption is SAFE (Spark recomputes the
    * frame from lineage) but defeats the pin, so owners call this
    * only at refresh points — i.e. when the previous value's
    * consumers have materialized.
    */
  def replaceValue[T <: AnyRef](spark: SparkSession, key: String)(
      build: => T): T = {
    // build OUTSIDE buildLock: replace-callers route expensive work
    // through it (a hop's re-rooted pin is materialized by a full
    // Spark job), and evaluating that under the global lock would
    // serialize every other Memo build for the job's duration (ADVICE
    // r14). Replace always builds, so there is no duplicate-build race
    // to guard — only the swap needs the lock.
    val b = build
    buildLock.synchronized {
      val old = values.put((spark, key), b)
      if (old != null) dropValue(old)
    }
    b
  }

  private val values = new ConcurrentHashMap[(SparkSession, String), AnyRef]()

  /** Build-once arbitrary value (e.g. a collected model artifact like
    * IVF centroids) for `key` within this session. Guarded by the
    * per-key monitor: model collects are full Spark jobs, and under
    * the parallel warm-up two DIFFERENT models must be able to build
    * at once (the old global lock serialized them — r15 opt).
    */
  def value[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val k = (spark, key)
    val hit = values.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else lockFor(k).synchronized {
      val again = values.get(k)
      if (again != null) again.asInstanceOf[T]
      else { val b = build; values.put(k, b); b }
    }
  }

  /** [[value]] whose build is an expensive Spark JOB (a standing
    * pin's warm count), not cheap plan construction: the absent-key
    * build runs OUTSIDE buildLock and registers via putIfAbsent. A
    * racing duplicate run re-counts an already-persisted frame —
    * cheaper than serializing every other Memo build behind a full
    * Spark job for its duration (ADVICE r14).
    */
  def valueEager[T <: AnyRef](spark: SparkSession, key: String)(
      build: => T): T = {
    val k = (spark, key)
    val hit = values.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val b = build
      val prev = values.putIfAbsent(k, b)
      if (prev != null) { dropValue(b); prev.asInstanceOf[T] } else b
    }
  }

  /** Evict one key from both maps under its build lock (r16, ADVICE:
    * eviction used to remove entries lock-free, so a [[df]]/[[value]]
    * build in flight during a purge could register a frame derived
    * from just-purged state AFTER the eviction pass ran — a stale,
    * storage-dead entry). Taking the per-key monitor serializes the
    * evict against any in-flight build: the build registers first,
    * then the evict removes (and releases) it. [[replaceValue]]/
    * [[valueEager]] register outside the per-key lock by design
    * (expensive-job builders, single-owner refresh points) — their
    * contract remains "owners must not refresh concurrently with a
    * purge of the same keys", as before.
    */
  private def evictKey(k: (SparkSession, String)): Unit =
    lockFor(k).synchronized {
      val c = cache.remove(k)
      if (c != null) {
        try c.unpersist(false) catch { case _: Throwable => () }
      }
      val v = values.remove(k)
      if (v != null) dropValue(v)
    }

  /** Drop (and unpersist) this session's entries derived from data
    * under `dir`. The repo's one directory writer,
    * [[graft.sources.DirSwap]] (behind UpsertSink,
    * writePartitionedByDate, CompactionOps and the layout compaction),
    * calls this after swapping files there, so
    * memoized derivations cannot serve stale data within a session;
    * for inputs mutated by anything else, the contract is
    * immutable-input-per-session. Keys are `name:dir[:variant]` (names
    * and paths contain no ':'), so the dir segment is matched EXACTLY —
    * `/data/sf1` must not invalidate `/data/sf10`'s derivations.
    */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    def dirMatches(key: String): Boolean = {
      val i = key.indexOf(':')
      i >= 0 && {
        val rest = key.substring(i + 1)
        rest == dir || rest.startsWith(dir + ":")
      }
    }
    import scala.jdk.CollectionConverters._
    (cache.keySet().asScala ++ values.keySet().asScala).toSet
      .filter(k => (k._1 eq spark) && dirMatches(k._2))
      .foreach(evictKey)
  }

  /** Drop (and unpersist) this session's entries whose FULL key
    * starts with `prefix` — the narrow invalidation for memos built
    * over LAYOUT TABLES (`standingServe:…`, `layoutGraphBeam:…`),
    * which die with their table (DROP TABLE uncaches dependent plans,
    * so a surviving memo entry would recompute against deleted
    * files). Narrower than [[invalidate]] so a layout purge does not
    * evict the session's source-parquet derivations.
    */
  def invalidatePrefix(spark: SparkSession, prefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    (cache.keySet().asScala ++ values.keySet().asScala).toSet
      .filter(k => (k._1 eq spark) && k._2.startsWith(prefix))
      .foreach(evictKey)
  }

  /** Test/inspection hook: is anything memoized under `key`? */
  private[graft] def hasKey(spark: SparkSession, key: String): Boolean =
    cache.containsKey((spark, key)) || values.containsKey((spark, key))

  /** Memoized values may hold cluster-side resources (the IVF model
    * broadcast); release them when evicting.
    */
  private def dropValue(v: AnyRef): Unit = v match {
    case b: org.apache.spark.broadcast.Broadcast[_] =>
      try b.destroy() catch { case _: Throwable => () }
    case PinnedDf(_, handle) =>
      try handle.unpersist(false) catch { case _: Throwable => () }
    case _ => ()
  }

  /** Drop (and unpersist) everything cached for this session — test
    * teardown hook (wired into GraftSpec.afterAll); harmless if
    * nothing is cached.
    */
  def clear(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val keys = (cache.keySet().asScala ++ values.keySet().asScala ++
      keyLocks.keySet().asScala).toSet.filter(_._1 eq spark)
    keys.foreach { k =>
      // evict under the key's lock, and only then retire the lock
      // object itself — a builder racing clear() finishes its build
      // first (its entry is evicted here), instead of a fresh lock
      // object breaking build-once mid-build (r16, ADVICE)
      lockFor(k).synchronized {
        val c = cache.remove(k)
        if (c != null) {
          try c.unpersist(false) catch { case _: Throwable => () }
        }
        val v = values.remove(k)
        if (v != null) dropValue(v)
        keyLocks.remove(k)
      }
    }
  }
}
