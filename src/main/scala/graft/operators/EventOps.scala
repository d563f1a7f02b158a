package graft.operators

import graft.Tables

/** A pattern step's quantifier for the B30 pattern-spec compiler:
  * exactly-one, optional (zero-or-one), or a bounded Kleene-plus
  * (one..maxRun). Bounded by CONTRACT, not approximation — the bound
  * is what keeps the lead-window width and the streaming face's
  * per-user ring O(pattern), the funnel-family state discipline.
  */
sealed trait PatternQuant
object PatternQuant {
  case object One extends PatternQuant
  case object Opt extends PatternQuant
  final case class Plus(maxRun: Int) extends PatternQuant
}

/** One step of a MATCH_RECOGNIZE-class pattern: an event type with a
  * quantifier.
  */
final case class PatternStep(tpe: String, quant: PatternQuant)
import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** B-family: the log-agent's event-pipeline semantics re-expressed as
  * distributed batch transforms over the `events` table.
  *
  * Mapping to /root/reference:
  *  - filterEvents (watchdog/watchdog.go:316-328) — newest event per
  *    key wins → [[latestPerKey]]
  *  - debounce (watchdog/watchdog.go:190-250) — bursts closer than the
  *    debounce gap collapse to their last event → [[debounce]]
  *  - fspolling badger change detection (watcher/fspolling.go:41-86) —
  *    emit only records whose (key, mtime) isn't in saved state →
  *    [[changeDetect]]
  *  - transferBatch micro-batching (watchdog.go:252-276) → tumbling
  *    windows → [[microbatchStats]]
  *  - prioritized handler fan-out (watchdog.go:97-107) →
  *    [[handlerRouting]]
  *  - Cassandra PK upsert (handler/cassandra.go:208-265) → latest row
  *    per composite key → [[upsertLatest]]
  *
  * Every window partitions by user_id (cardinality grows with data);
  * no global windows, no collect. All timestamps compared in epoch
  * micros (engine-portable, no interval arithmetic differences).
  */
object EventOps {

  private val GapMicros30m = 30L * 60 * 1000000
  private val GapMicros2h  = 2L * 3600 * 1000000

  private def byTs = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  /** B1: newest event per key (filterEvents). */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "props")
      .orderBy("user_id")
  }

  /** B2: debounce — events for a key closer than 30min collapse into a
    * burst; the burst's last event is emitted with the burst size.
    */
  def debounce(spark: SparkSession, dir: String): DataFrame = {
    val burst = Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTs))
      .withColumn("new_burst",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > GapMicros30m, 1L)
          .otherwise(0L))
      .withColumn("burst_id",
        sum(col("new_burst")).over(byTs.rowsBetween(Window.unboundedPreceding, 0)))
    val wLast = Window.partitionBy(col("user_id"), col("burst_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    burst
      .withColumn("rn", row_number().over(wLast))
      .withColumn("burst_size",
        count(lit(1)).over(Window.partitionBy(col("user_id"), col("burst_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("burst_id"), col("event_id"), col("ts"),
        col("event_type"), col("burst_size").cast(LongType))
      .orderBy("user_id", "burst_id")
  }

  /** B3: change detection — saved state holds (event_id, minute-truncated
    * ts) for even ids; an event is re-emitted iff its (id, ts) pair
    * differs (left-anti join == badger isSaved false).
    */
  def changeDetect(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "ts", "user_id", "event_type")
    val state = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("s_id"),
        when(col("event_id") % 4 === 0, date_trunc("minute", col("ts")))
          .otherwise(col("ts")).as("s_ts"))
    ev.join(state, ev("event_id") === col("s_id") && ev("ts") === col("s_ts"),
        "left_anti")
      .orderBy("event_id")
  }

  /** B4: gap sessionization (2h): session stats per user. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTs))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > GapMicros2h, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byTs.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        lcount.as("n_events"),
        min(col("ts")).as("t_start"),
        max(col("ts")).as("t_end"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** B5: micro-batch stats — tumbling 1h buckets per event type
    * (transferBatch's 200ms tick at analytics timescale).
    */
  def microbatchStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(
        lcount.as("n_events"),
        countDistinct(col("user_id")).cast(LongType).as("n_users"),
        dsum(col("value")).as("sum_value"))
      .orderBy("bucket", "event_type")

  /** B6: prioritized handler fan-out — each event joins the routing
    * table (broadcast) and handlers apply in priority-desc order,
    * exactly like Watchdog.AddHandler's sorted adapter chain.
    */
  def handlerRouting(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val routes = Seq(
      ("error", "console", 0L), ("error", "file", 1L),
      ("error", "kafka", 2L), ("error", "cassandra", 3L),
      ("purchase", "kafka", 2L), ("purchase", "cassandra", 3L),
      ("click", "kafka", 2L), ("view", "kafka", 2L),
      ("signup", "file", 1L), ("signup", "kafka", 2L)
    ).toDF("r_type", "handler", "priority")
    val ev = Tables.events(spark, dir).select("event_id", "event_type")
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("priority").desc, col("handler"))
    ev.join(broadcast(routes), ev("event_type") === routes("r_type"))
      .select(col("event_id"), col("event_type"), col("handler"), col("priority"),
        row_number().over(w).cast(LongType).as("seq"))
      .orderBy("event_id", "seq")
  }

  /** B7: sliding error-burst monitor — errors among the last 10 events
    * of a user; alert rows where >= 3.
    */
  def errorBurst(spark: SparkSession, dir: String): DataFrame = {
    val w10 = byTs.rowsBetween(-9, 0)
    Tables.events(spark, dir)
      .withColumn("err_cnt_10",
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w10))
      .filter(col("err_cnt_10") >= 3)
      .select("user_id", "event_id", "ts", "event_type", "err_cnt_10")
      .orderBy("user_id", "event_id")
  }

  /** B7b: time-based sliding error-rate windows — the batch face of
    * the E12 streaming monitor (StreamOps.slidingErrorRate): the SAME
    * operator runs over the events table here (watermark a no-op in
    * batch), so stream and batch alerting share one definition.
    * Overlapping 10-minute windows every 5 minutes; each event lands
    * in exactly windowLen/slide windows, epoch-aligned.
    */
  def slidingErrorRate(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.slidingErrorRate(
        Tables.events(spark, dir).select("ts", "event_type"))
      .orderBy("w_start")

  /** B13: incremental ingest ledger — the full badger-snapshot diff:
    * classify the current listing vs saved state as NEW / MODIFIED /
    * DELETED (fspolling emits NEW+MODIFIED; DELETED is what the
    * reference's TODO'd remove-handling would produce). One full outer
    * join on the key, no state on the driver.
    */
  def changeLedger(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "ts")
    val current = ev.filter(col("event_id") % 5 =!= 0)
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
    val state = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("s_id"),
        when(col("event_id") % 4 === 0, date_trunc("minute", col("ts")))
          .otherwise(col("ts")).as("s_ts"))
    current.join(state, col("c_id") === col("s_id"), "full_outer")
      .withColumn("op",
        when(col("s_id").isNull, "NEW")
          .when(col("c_id").isNull, "DELETED")
          .when(col("c_ts") =!= col("s_ts"), "MODIFIED")
          .otherwise("UNCHANGED"))
      .filter(col("op") =!= "UNCHANGED")
      .select(coalesce(col("c_id"), col("s_id")).as("event_id"), col("op"))
      .orderBy("event_id")
  }

  /** B12: skew-safe aggregation — two-phase salted groupBy. A hot key
    * (one user producing most of the feed — the reference's single
    * chatty machine) would bottleneck one reducer; salting spreads the
    * partial aggregation over 16 sub-keys, then merges. Result is
    * identical to a direct groupBy (decimal sums are order-independent)
    * — the oracle is the plain aggregate.
    */
  def saltedUserStats(spark: SparkSession, dir: String): DataFrame = {
    val salted = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("pv"))
    salted.groupBy(col("user_id"))
      .agg(sum(col("pn")).cast(LongType).as("n_events"),
        sum(col("pv")).cast(DoubleType).as("total_value"))
      .orderBy("user_id")
  }

  /** Per-event gap rows — the shared core of B24 and B24b: lag window
    * per (user_id, event_type) ordered (ts, event_id), exact integer
    * milli gaps, first event of each key dropped.
    */
  private def gapFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
  }

  /** B24b: gap anomalies — the alerting rule over B24: an event whose
    * gap exceeds 3× its type's p90 flags a stalled source. The
    * |types|-row percentile table broadcasts back onto the gap rows
    * (the B17 shape); the 3× test is an exact comparison against the
    * interpolated-double threshold, identical on both engines.
    */
  def gapAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val p90 = gapFrame(spark, dir).groupBy("event_type")
      .agg(expr("percentile(gap_ms, 0.9)").as("p90_gap_ms"))
    gapFrame(spark, dir)
      .join(broadcast(p90), "event_type")
      .filter(col("gap_ms").cast(DoubleType) > lit(3.0) * col("p90_gap_ms"))
      .select("event_type", "user_id", "event_id", "gap_ms", "p90_gap_ms")
      .orderBy("event_type", "user_id", "event_id")
  }

  /** B24: inter-arrival profile — per event type, the distribution of
    * gaps between a user's consecutive events of that type (the
    * latency/heartbeat signal a collector alarms on: a p90 gap
    * stretching means the source went quiet). Window lag per
    * (user_id, event_type) keyed by a growing-cardinality pair — no
    * constant-key window — then a |types|-group exact-percentile
    * aggregate (the B11 device). Gaps are exact integer millis;
    * percentiles interpolate identically on both engines.
    */
  def interarrival(spark: SparkSession, dir: String): DataFrame =
    gapFrame(spark, dir)
      .groupBy("event_type")
      .agg(
        lcount.as("n_gaps"),
        min(col("gap_ms")).as("min_gap_ms"),
        expr("percentile(gap_ms, 0.5)").as("p50_gap_ms"),
        expr("percentile(gap_ms, 0.9)").as("p90_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
      .orderBy("event_type")

  /** B11: exact percentiles of event values per type (sorted-exact
    * with linear interpolation — portable across engines).
    */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        lcount.as("n"))
      .orderBy("event_type")

  /** B11b: the SKETCHED percentile twin — approx_percentile (Spark's
    * mergeable quantile summary) beside B11's exact sort-based
    * percentile, the same pairing as B18's HLL twin: at 100 TB the
    * exact percentile shuffles every value to its type's reducer,
    * while the sketch partial-aggregates to a bounded summary per
    * partition and merges — shuffle bytes are |types|·sketch-size
    * regardless of event volume. Accuracy tolerance-pinned against
    * the exact face in spec (not oracled — the summary is
    * engine-specific by nature).
    */
  def valuePercentilesApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.9, $accuracy)").as("p90"),
        expr(s"approx_percentile(value, 0.99, $accuracy)").as("p99"),
        lcount.as("n"))
      .orderBy("event_type")

  /** B17: per-type value anomaly flags — each event z-scored against
    * its own event type's mean/std, |z| ≥ 3 flagged (the monitoring
    * rule a collector raises alerts on). The mean and E[x²] sums go
    * through EXACT integers (value·2^59 and value²·2^66 are integral
    * for this value domain: doubles ≥ 2^-7 resp. squares ≥ 2^-14,
    * verified across SFs; both summed as DECIMAL(38,0)), so the stats
    * are order-independent at any parallelism and the whole query is
    * oracle-replicable bit-for-bit. The per-type stats table is tiny →
    * broadcast back onto the scan; one pass + one broadcast join.
    */
  /** B28: per-type least-squares trend of value on hour-of-day, with
    * the Pearson correlation beside it — the seasonality screen a
    * monitoring pipeline fits before alerting on raw deviations. All
    * five cross-moments (n, Σx, Σx², Σy, Σxy, Σy²) accumulate EXACTLY
    * in one map-side-combinable aggregation: the hour terms are plain
    * longs, the value terms ride the B17 fixed-point contract
    * (value·2⁵⁹ / value²·2⁶⁶ truncated into DECIMAL(38,0) — integral
    * doubles, so both engines cast identically), and the hour factor
    * multiplies AFTER the integer cast so it adds no rounding. The
    * slope/intercept/corr formulas then run in double from the exact
    * aggregates, replicated verbatim (same operation order) in the
    * oracle. One shuffle of |types| groups; zero-variance guarded the
    * zscore way (a constant axis has no trend — emit 0, not NaN).
    */
  def regression(spark: SparkSession, dir: String): DataFrame =
    regressionOver(
      Tables.events(spark, dir)
        .select(col("event_type"), col("value"),
          hour(col("ts")).cast(LongType).as("h")),
      Seq(col("event_type")))
      .orderBy("event_type")

  /** The B28 kernel over any frame carrying (value, h) and the given
    * grouping keys — shared by the batch query and the windowed
    * streaming face (E43): every accumulator is ALGEBRAIC (longs +
    * exact decimals), so micro-batch partial aggregates merge
    * losslessly inside windowed state and the stream equals the batch
    * run of this same function bit-for-bit.
    */
  private[graft] def regressionOver(ev: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val s1 = lit(576460752303423488.0)    // 2^59
    val s2 = lit(73786976294838206464.0)  // 2^66
    val aggs = Seq(
      lcount.as("n"),
      sum(col("h")).cast(LongType).as("sx_l"),
      sum(col("h") * col("h")).cast(LongType).as("sxx_l"),
      sum((col("value") * s1).cast(DecimalType(38, 0))).as("sy_fp"),
      sum((col("value") * s1).cast(DecimalType(38, 0)) * col("h"))
        .as("sxy_fp"),
      sum((col("value") * col("value") * s2).cast(DecimalType(38, 0)))
        .as("syy_fp"))
    val agg = ev.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast(DoubleType)
    val sx = col("sx_l").cast(DoubleType)
    val sxx = col("sxx_l").cast(DoubleType)
    val sy = col("sy_fp").cast(DoubleType) / s1
    val sxy = col("sxy_fp").cast(DoubleType) / s1
    val syy = col("syy_fp").cast(DoubleType) / s2
    val dx = n * sxx - sx * sx
    val dy = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    // the grouped frame leads with its key columns — re-select them by
    // name (a window(...) key can't be re-evaluated post-aggregation)
    agg.select(agg.columns.take(keys.length).map(col) ++ Seq(col("n"),
      when(dx <= 0.0, 0.0).otherwise(cov / dx).as("slope"),
      when(dx <= 0.0, 0.0)
        .otherwise((sy - (cov / dx) * sx) / n).as("intercept"),
      when(dx <= 0.0 || dy <= 0.0, 0.0)
        .otherwise(cov / sqrt(dx * dy)).as("corr")): _*)
  }

  def valueZscore(spark: SparkSession, dir: String): DataFrame = {
    val s1 = lit(576460752303423488.0)    // 2^59
    val s2 = lit(73786976294838206464.0)  // 2^66
    val ev = Tables.events(spark, dir)
    val stats = ev.groupBy(col("event_type")).agg(
        (sum((col("value") * s1).cast(DecimalType(38, 0))).cast(DoubleType)
          / count(lit(1)).cast(DoubleType) / s1).as("mean"),
        (sum((col("value") * col("value") * s2).cast(DecimalType(38, 0)))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType) / s2).as("m2"))
      .withColumn("std", sqrt(col("m2") - col("mean") * col("mean")))
      .select("event_type", "mean", "std")
    // zero-variance guard: a constant series (std = 0) is the LEAST
    // anomalous input — without the branch, z = 0/0 = NaN and Spark's
    // NaN-is-greatest ordering would flag every row
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", when(col("std") === 0.0, 0.0)
        .otherwise((col("value") - col("mean")) / col("std")))
      .withColumn("is_anomaly", abs(col("z")) >= 3.0)
      .select("event_id", "event_type", "value", "z", "is_anomaly")
      .orderBy("event_id")
  }

  /** B9: JSON property extraction — the events `props` column is a
    * JSON document (the agent's per-file metadata bag); parse, type
    * and bucket it. get_json_object is codegen'd and needs no schema.
    */
  def propsJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
      .withColumn("k_bucket", col("k_val") % 10)
      .orderBy("event_id")

  /** B10: as-of join — each event carries the most recent prior error
    * event of the same user (the "latest state at event time" shape:
    * no shuffle beyond the per-user window).
    */
  def asofPriorError(spark: SparkSession, dir: String): DataFrame = {
    val w = byTs.rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("prior_error_id",
        last(when(col("event_type") === "error", col("event_id")),
          ignoreNulls = true).over(w))
      .withColumn("prior_error_us",
        last(when(col("event_type") === "error", unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") =!= "error")
      .select("user_id", "event_id", "ts", "event_type",
        "prior_error_id", "prior_error_us")
      .orderBy("event_id")
  }

  /** B8: Cassandra upsert semantics — latest row per PK
    * (user_id, event_type); later ts (then id) wins, like repeated
    * INSERTs on the same primary key.
    */
  def upsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  /** B14: conversion funnel — first ordered completion of
    * view → click → purchase per user (each step's timestamp is the
    * first qualifying event strictly after the previous step). Three
    * user-keyed aggregations + broadcast-free equi-joins on user_id:
    * the funnel scales as three shuffles on a key whose cardinality
    * grows with data, never a window over the whole history.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    // each stage feeds BOTH the next stage and the final join — pin
    // them (session-memoized persist) or the scan+agg subtree
    // re-executes per consumer (v would run 3x, c 2x: measured
    // 4.7 s -> ~2 s). Lazy persist via Memo (not localCheckpoint):
    // cache substitution happens on the analyzed plan, so every
    // consumer hits the same InMemoryRelation within one action,
    // building the DataFrame runs no jobs, and on a real cluster a
    // lost block recomputes from lineage instead of failing the job
    // (localCheckpoint truncates lineage to executor-local blocks).
    val v = graft.Memo.df(spark, s"funnelView:$dir") {
      ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    }
    val c = graft.Memo.df(spark, s"funnelClick:$dir") {
      ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t_view"))
        .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_click"))
    }
    val pu = ev.filter(col("event_type") === "purchase")
      .join(c.select("user_id", "t_click"), "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c.select("user_id", "t_click"), Seq("user_id"), "left")
      .join(pu, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("funnel_depth"))
      .orderBy("user_id")
  }

  /** B15: time-grid resample with forward fill — each user's history
    * sampled on a 15-minute grid carrying the last event at-or-before
    * each grid point (the monitoring dashboard's query). Grid rows and
    * event rows union; one user-keyed window orders by (ts, is_grid
    * asc — events sort before the grid row at the same instant, so an
    * event AT a grid instant fills that instant);
    * last_value(ignoreNulls) forward-fills. Grid explode is
    * executor-local; the only shuffle is the user-keyed window sort.
    */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame =
    // spreadBy on the WINDOW key: bounds/grid/fill all partition by
    // user_id, and the grid explode + forward-fill window off a
    // single-task local scan serialized on one core (measured
    // 2.14 -> 1.10 s warm)
    resampleGrid(Tables.spreadBy(Tables.events(spark, dir), "user_id")
      .select(col("user_id"), col("event_id"), col("ts"), col("value")))

  /** Core of B15 over any (user_id, event_id, ts, value) feed.
    * `maxSpanDays` caps the grid per user — the open-ended-data
    * guard: a key spanning years would otherwise explode ~35k grid
    * rows/year (a decade-span key ≈ 350k rows/user). The CONTRACT is
    * loud: a key whose span exceeds the cap FAILS the job (executor-
    * side assert naming the limit), because silently resampling only
    * the trailing window would hand the caller a truncated series
    * indistinguishable from a complete one. Callers that want the
    * trailing-window semantics opt in with `truncateBeyondCap = true`,
    * where events older than the cap still participate in the forward
    * fill (resample the recent window, fill from full history). The
    * default never fires on the bounded events table, so the oracle
    * semantics are unchanged there.
    */
  def resampleGrid(ev: DataFrame, maxSpanDays: Int = 400,
      truncateBeyondCap: Boolean = false): DataFrame = {
    val bounds = ev.groupBy("user_id")
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val cappedStart = greatest(date_trunc("hour", col("t0")),
      date_trunc("hour", col("t1") - expr(s"interval $maxSpanDays days")))
    // assert_true is wired INTO the gridStart expression (not a
    // droppable side column), so pruning cannot optimize the check
    // away: when the span exceeds the cap the job fails with the
    // contract message instead of silently shrinking the grid
    val spanOk = assert_true(
      col("t1").cast(LongType) - col("t0").cast(LongType)
        <= lit(maxSpanDays.toLong * 86400L),
      lit(s"resampleGrid: a key's time span exceeds maxSpanDays=" +
        s"$maxSpanDays; raise the cap or pass truncateBeyondCap=true " +
        "for trailing-window semantics"))
    val gridStart =
      if (truncateBeyondCap) cappedStart
      else when(spanOk.isNull, date_trunc("hour", col("t0")))
    val grid = bounds.select(col("user_id"),
        explode(sequence(gridStart, col("t1"),
          expr("interval 15 minutes"))).as("ts"))
      .withColumn("is_grid", lit(1))
      .withColumn("event_id", lit(null).cast(LongType))
      .withColumn("value", lit(null).cast(DoubleType))
    val tagged = ev.withColumn("is_grid", lit(0))
      .select("user_id", "ts", "is_grid", "event_id", "value")
      .unionByName(grid.select("user_id", "ts", "is_grid", "event_id", "value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_grid"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_event_id", last(col("event_id"), ignoreNulls = true).over(w))
      .withColumn("last_value", last(col("value"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select("user_id", "ts", "last_event_id", "last_value")
      .orderBy("user_id", "ts")
  }

  /** B16: weekly retention cohorts — users grouped by the week of
    * their first event; each cell counts distinct users from that
    * cohort active `wk` weeks later. Two user-keyed aggregations and
    * one (cohort, wk)-keyed count: cohort-key cardinality grows with
    * the time span, user joins shuffle on user_id — no global state.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val active = ev.join(first, "user_id")
      .select(col("user_id"), col("cohort"),
        date_trunc("week", col("ts")).as("wts"))
      .distinct()
      .withColumn("wk",
        (datediff(to_date(col("wts")), to_date(col("cohort"))) / 7)
          .cast(LongType))
    active.groupBy(col("cohort"), col("wk"))
      .agg(count(lit(1)).cast(LongType).as("n_users"))
      .orderBy("cohort", "wk")
  }

  /** B19: hourly trending — top-k event types per tumbling hour by
    * event count (ties → type asc): the "what's hot right now" board.
    * Counts partial-aggregate map-side; the top-k per hour runs on
    * bounded heaps keyed by the window start — shuffle O(k·|hours|).
    * Streaming face: [[graft.streaming.StreamOps.trendingStream]].
    */
  def trending(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(lcount.as("n_events"))
    graft.plans.TopK.perKey(counts, Seq(col("bucket")),
        Seq(col("n_events").desc, col("event_type").asc), k)
      .select(col("bucket"), col("event_type"), col("n_events"), col("rnk"))
      .orderBy("bucket", "rnk")
  }

  /** B18: per-type cardinality profile — exact distinct users and
    * active days per event type (the capacity-planning numbers a
    * collector reports). countDistinct expands each group to its
    * distinct value set before the final count: exact, but the
    * shuffle carries every distinct (type, user) pair.
    */
  def cardinality(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(lcount.as("n_events"),
        countDistinct(col("user_id")).cast(LongType).as("n_users"),
        countDistinct(date_trunc("day", col("ts"))).cast(LongType).as("n_days"))
      .orderBy("event_type")

  /** B18b: the HLL twin of [[cardinality]] — approx_count_distinct
    * partial-aggregates into a fixed-width sketch map-side and merges
    * sketches, so the shuffle is |types| × sketch-size REGARDLESS of
    * user count: at 100 TB the exact version's distinct expansion is
    * the bottleneck and the sketch is the deployable shape. rsd=2%;
    * tolerance vs the exact twin asserted in spec (engine-specific
    * sketch ⇒ no cross-engine oracle, like lengthStatsApprox).
    */
  def cardinalityApprox(spark: SparkSession, dir: String,
      rsd: Double = 0.02): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(lcount.as("n_events"),
        approx_count_distinct(col("user_id"), rsd).as("n_users"),
        approx_count_distinct(date_trunc("day", col("ts")), rsd).as("n_days"))
      .orderBy("event_type")

  /** B22: daily volume anomalies — per event type, each day's count
    * against its trailing 7-OBSERVED-day baseline; flagged when the
    * excess exceeds 2σ. The z-test is computed square-form —
    * (cnt−mean)² > 4·var with mean/var from exact long window sums —
    * so no sqrt enters and the verdict is engine-exact. One
    * day-grained aggregation plus a |types|-keyed window: the shuffle
    * carries |types|·|days| rows no matter the event volume (the
    * monitor shape a collector runs continuously; cf. B7's burst
    * monitor for the intra-day face).
    */
  def dailyAnomaly(spark: SparkSession, dir: String,
      minPrev: Int = 3): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(lcount.as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_prev", count(col("cnt")).over(w))
      .withColumn("sum_prev", sum(col("cnt")).over(w))
      .withColumn("sumsq_prev", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n_prev") >= minPrev)
      .withColumn("mean", col("sum_prev").cast(DoubleType) / col("n_prev"))
      .withColumn("variance",
        (col("sumsq_prev").cast(DoubleType) -
          col("sum_prev").cast(DoubleType) * col("sum_prev").cast(DoubleType) /
            col("n_prev")) / col("n_prev"))
      .filter(col("cnt") > col("mean") &&
        (col("cnt") - col("mean")) * (col("cnt") - col("mean")) >
          lit(4.0) * col("variance"))
      .select(col("event_type"), col("day"), col("cnt"), col("mean"),
        col("variance"))
      .orderBy("event_type", "day")
  }

  /** B4b: gap sessionization through Spark's NATIVE `session_window`
    * operator — the same analysis as B4 driven by the built-in
    * merging-window aggregation instead of the lag chain (the
    * streaming-ready formulation: the identical expression runs under
    * `withWatermark` unchanged — parity pinned in StreamingSpec).
    * Boundary semantics differ from B4 deliberately and are pinned by
    * the oracle: session_window closes at diff ≥ gap (B4's chain
    * splits at diff > gap), and the window end is last-event + gap.
    */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame =
    // spreadBy on the GROUP key: the session-window aggregation's
    // exchange is reused and the merging-window fold parallelizes
    // off the single-task local scan (measured 0.94 -> 0.54 s warm)
    Tables.spreadBy(Tables.events(spark, dir), "user_id")
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours"))
      .agg(lcount.as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("w_start"),
        col("session_window.end").as("w_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "w_start")

  /** B20b: OUTER attribution — every purchase, with its click touches
    * when they exist and an explicit unattributed row (null click)
    * when none do: the report a marketing pipeline actually ships
    * (conversion coverage needs the denominator). LEFT join over the
    * same user-keyed band; the streaming twin
    * (StreamOps.attributionOuterStream) emits the null rows only
    * after the watermark PROVES absence.
    */
  def attributionOuter(spark: SparkSession, dir: String): DataFrame =
    attributionPairs(spark, dir, "left")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"),
        col("click_id").isNotNull.as("attributed"))
      .orderBy("purchase_id", "click_id")

  /** B20c: multi-touch credit assignment — each purchase's credit
    * split across its window clicks: equal shares (linear) and a
    * recency-decayed share whose weights are INTEGERS (window-minutes
    * remaining, 1440 − mins_before), so the normalizing sums are
    * exact and the shares engine-exact — no transcendental decay
    * curve, same design as the rational tf-idf scores.
    */
  def attributionCredit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("purchase_id"))
    // build on the UNSORTED pairs: attribution's global orderBy would
    // be a sort exchange the window's hash repartition then discards
    attributionPairs(spark, dir, "inner")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        minsBefore)
      .withColumn("n_clicks", count(lit(1)).over(w))
      .withColumn("w_int",
        lit(AttributionWindowHours * 60L) - col("mins_before"))
      .withColumn("sum_w", sum(col("w_int")).over(w))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("mins_before"),
        (lit(1.0) / col("n_clicks")).as("credit_linear"),
        (col("w_int").cast(DoubleType) / col("sum_w").cast(DoubleType))
          .as("credit_decay"))
      .orderBy("purchase_id", "click_id")
  }

  /** B23: fixed-width value histogram per event type — the dashboard
    * shape of the value distribution (bucket = ⌊value/25⌋ capped at
    * 15, exact double floor in both engines). One tiny-keyed
    * aggregation; the shuffle carries |types|·16 rows max.
    */
  val HistWidth = 25.0
  val HistMaxBucket = 15

  def valueHistogram(spark: SparkSession, dir: String,
      width: Double = HistWidth, maxBucket: Int = HistMaxBucket): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        least(floor(col("value") / width), lit(maxBucket.toLong))
          .cast(LongType).as("bucket"))
      .agg(lcount.as("n"))
      .orderBy("event_type", "bucket")

  /** B27: exponentially-weighted moving average per (user, type) —
    * the smoothing an EWMA control chart / drift detector consumes.
    * α = 1/2 EXACTLY: both per-step products are power-of-two
    * scalings (exact in IEEE 754), leaving ONE identically-rounded
    * add per step, so on a pinned fold order ((ts, event_id), the
    * house timeline key) the recurrence is bit-replicable in DuckDB's
    * `list_reduce` — a smoothed value is hash-checkable like any
    * exact aggregate, unlike a float sum whose order Spark doesn't
    * pin.
    *
    * Scale design: ONE shuffle on the grouping key; per-key state is
    * the user's own timeline (the funnel/timeline family's bound —
    * events-per-user is set by the product, not the corpus); the fold
    * is a codegen'd higher-order function over the sorted array — no
    * UDF, no window re-sort, no driver loop. The streaming dual
    * ([[graft.streaming.StreamOps.ewmaStream]]) carries the same
    * recurrence as O(1) state per key.
    */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .withColumn("ms", unix_millis(col("ts")))
      .groupBy(col("user_id"), col("event_type"))
      .agg(lcount.as("n_events"),
        sort_array(collect_list(struct(col("ms"), col("event_id"),
          col("value")))).as("vals"))
      .withColumn("last_value", element_at(col("vals"), -1)("value"))
      .withColumn("ewma", expr(
        "aggregate(slice(vals, 2, size(vals) - 1), vals[0].value," +
        " (acc, x) -> acc * 0.5D + x.value * 0.5D)"))
      .select("user_id", "event_type", "n_events", "last_value", "ewma")
      .orderBy("user_id", "event_type")

  /** B21: event-type transition matrix — every event paired with its
    * predecessor on the same user's timeline (lag window), then
    * counted per (prev, next) pair with row-normalized probabilities:
    * the Markov-chain summary a log platform derives for flow mining
    * and anomaly baselining. One user-keyed shuffle for the lag, one
    * tiny-keyed aggregation; the per-prev totals are |event types|
    * rows → broadcast back.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val t = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val cnt = t.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(lcount.as("n"))
    val tot = cnt.groupBy(col("prev_type").as("p2"))
      .agg(sum(col("n")).cast(LongType).as("tot"))
    cnt.join(broadcast(tot), col("prev_type") === col("p2"))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast(DoubleType) / col("tot").cast(DoubleType)).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** B25's pattern + time bound (shared with the oracle builder).
    * The generator's user timelines run sparse (consecutive-event
    * gaps of hours), so the conversion bound is 48 h; the span
    * semantics themselves are spec-pinned with a tight bound on a
    * fixture.
    */
  val PatternSeq: Seq[String] = Seq("view", "click", "purchase")
  val PatternMaxSpanMin = 48 * 60

  /** B25: CEP-style strict-sequence detection — every STRICTLY
    * CONSECUTIVE run of the pattern's event types on a user timeline
    * (no intervening events — the MATCH_RECOGNIZE shape, and the dual
    * of B14's funnel, which allows gaps and takes first completion),
    * bounded by a total time span. lead() windows materialize each
    * event's next |pattern|−1 successors in ONE user-keyed window
    * sort; the match is then a pure in-row predicate, so cost is the
    * timeline sort the B-family already pays — no self-joins, no
    * per-pattern scans. Deterministic ordering: (ts, event_id), the
    * house timeline key.
    */
  def patternMatch(spark: SparkSession, dir: String,
      pattern: Seq[String] = PatternSeq,
      maxSpanMin: Int = PatternMaxSpanMin): DataFrame = {
    require(pattern.length >= 2, "pattern needs at least 2 steps")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val withLeads = pattern.indices.tail.foldLeft(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))) { (d, i) =>
      d.withColumn(s"type_$i", lead(col("event_type"), i).over(w))
        .withColumn(s"id_$i", lead(col("event_id"), i).over(w))
        .withColumn(s"ts_$i", lead(col("ts"), i).over(w))
    }
    val last = pattern.length - 1
    val matches = withLeads
      .filter(col("event_type") === pattern.head)
      .filter(pattern.indices.tail
        .map(i => col(s"type_$i") === pattern(i)).reduce(_ && _))
      .withColumn("span_ms",
        unix_millis(col(s"ts_$last")) - unix_millis(col("ts")))
      .filter(col("span_ms") <= maxSpanMin.toLong * 60000L)
    matches.select(
      Seq(col("user_id"), col("event_id").as("id_0"), col("ts").as("ts_0")) ++
      pattern.indices.tail.flatMap(i => Seq(col(s"id_$i"))) :+
      col("span_ms"): _*)
      .orderBy("user_id", "id_0")
  }

  /** B29's Kleene-run bound: the maximal middle-step repetition a
    * match may consume (view click{1..4} purchase). The bound is the
    * CONTRACT, not an approximation — it is what makes the streaming
    * face's per-user state O(maxRun) (the funnel-family state-bound
    * discipline), and a longer run is out of pattern by definition on
    * both faces and in the oracle alike.
    */
  val KleeneMaxRun = 4

  /** B29: Kleene-quantified CEP — `A B+ C` (view, one-or-more clicks,
    * purchase), strictly consecutive in the user timeline, with the
    * middle run bounded by [[KleeneMaxRun]] and the whole match inside
    * the B25 span bound. GREEDY/deterministic semantics: for an anchor
    * of type A, the run is the maximal consecutive block of B's
    * immediately after it (well-defined — the block ends at the first
    * non-B), and the match fires iff that block's length is in
    * [1, maxRun] and the event ending it is C. Each anchor emits at
    * most one row; each row's terminator is unique to its anchor.
    *
    * Same scale shape as B25: maxRun+1 lead() columns in ONE user-keyed
    * window sort, then pure in-row arithmetic — the run length is a
    * chained conditional over the lead types, the terminator columns
    * are element_at lookups by run length. No self-joins, no
    * per-repetition scans, cost independent of maxRun beyond the lead
    * width.
    */
  def patternKleene(spark: SparkSession, dir: String,
      maxRun: Int = KleeneMaxRun,
      maxSpanMin: Int = PatternMaxSpanMin): DataFrame = {
    require(maxRun >= 1, "maxRun must be at least 1")
    val Seq(a, b, c) = PatternSeq
    val n = maxRun + 1
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val withLeads = (1 to n).foldLeft(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))) { (d, i) =>
      d.withColumn(s"type_$i", lead(col("event_type"), i).over(w))
        .withColumn(s"id_$i", lead(col("event_id"), i).over(w))
        .withColumn(s"ts_$i", lead(col("ts"), i).over(w))
    }
    // maximal consecutive B-run length after the anchor, capped at
    // n = maxRun+1 (a run that long is out of contract): the first
    // lead that is missing or non-B ends the run
    val runLen = (1 to n).foldRight(lit(n.toLong)) { (i, els) =>
      when(col(s"type_$i").isNull || col(s"type_$i") =!= b,
        lit((i - 1).toLong)).otherwise(els)
    }
    val types = array((1 to n).map(i => col(s"type_$i")): _*)
    val ids = array((1 to n).map(i => col(s"id_$i")): _*)
    val tsMs = array((1 to n).map(i => unix_millis(col(s"ts_$i"))): _*)
    val term = (col("n_mid") + 1).cast("int")
    withLeads
      .filter(col("event_type") === a)
      .withColumn("n_mid", runLen)
      .filter(col("n_mid").between(1L, maxRun.toLong))
      .filter(element_at(types, term) === c)
      .withColumn("id_last", element_at(ids, term))
      .withColumn("span_ms",
        element_at(tsMs, term) - unix_millis(col("ts")))
      .filter(col("span_ms") <= maxSpanMin.toLong * 60000L)
      .select(col("user_id"), col("event_id").as("id_0"),
        col("ts").as("ts_0"), col("n_mid"), col("id_last"), col("span_ms"))
      .orderBy("user_id", "id_0")
  }

  /** B30's pattern instance: `view click? purchase` — exercises the
    * optional quantifier (shared with the oracle SQL generator, like
    * PatternSeq/KleeneMaxRun, so operator and oracle cannot drift).
    */
  val PatternSpecSteps: Seq[PatternStep] = Seq(
    PatternStep("view", PatternQuant.One),
    PatternStep("click", PatternQuant.Opt),
    PatternStep("purchase", PatternQuant.One))

  private def maxConsume(s: PatternStep): Int = s.quant match {
    case PatternQuant.One => 1
    case PatternQuant.Opt => 1
    case PatternQuant.Plus(k) => k
  }

  /** The lead-window width the compiled plan (and its oracle) needs:
    * the deepest anchor-relative position any step's predicate can
    * examine — a Plus step reaches one past its maximal run (the
    * overrun check that makes run-exactly-at-bound decidable).
    */
  private[graft] def patternLeadWidth(steps: Seq[PatternStep]): Int = {
    var startMax = 1 // anchor consumed position 0
    var deepest = 1
    steps.tail.foreach { st =>
      val reach = st.quant match {
        case PatternQuant.Plus(k) => k // examines pos .. pos+k
        case _ => 0 // examines pos only
      }
      deepest = math.max(deepest, startMax + reach)
      startMax += maxConsume(st)
    }
    deepest
  }

  /** The compiler's well-formedness contract. First step = exactly-one
    * (a quantified head would anchor every event of its own run); last
    * step = exactly-one (a trailing quantifier needs proof of absence,
    * which batch gets from table completeness but a stream only gets
    * from a watermark — the B25b/E31 device, out of this operator's
    * contract); adjacent types distinct (greedy no-backtracking
    * consumption is EXACT regex semantics only when a shortened run
    * could never feed the next step — distinct adjacent types
    * guarantee it, and make the oracle's consumption combos mutually
    * exclusive).
    */
  private[graft] def validatePattern(steps: Seq[PatternStep]): Unit = {
    require(steps.length >= 2, "pattern needs at least 2 steps")
    require(steps.head.quant == PatternQuant.One,
      "first step must be an exactly-one anchor")
    require(steps.last.quant == PatternQuant.One,
      "last step must be exactly-one (trailing quantifiers need " +
        "watermark-held verdicts)")
    steps.sliding(2).foreach { case Seq(x, y) =>
      require(x.tpe != y.tpe,
        s"adjacent steps share type '${x.tpe}': greedy consumption " +
          "is exact only with distinct adjacent types")
    }
    steps.foreach(_.quant match {
      case PatternQuant.Plus(k) => require(k >= 1, "Plus bound must be >= 1")
      case _ => ()
    })
  }

  /** B30: the pattern-spec COMPILER — arbitrary (type, quantifier)
    * sequences (B25 = all-One, B29 = One·Plus·One are both instances,
    * pinned equal in EventPatternSpec) compiled to the shared
    * lead()-window plan: [[patternLeadWidth]] lead columns in ONE
    * user-keyed window sort, then the whole match is a pure in-row
    * fold — each step's predicate reads the type array at a
    * data-dependent position (`get`, null-safe past the horizon),
    * Optional consumes iff its type is next, Plus consumes the maximal
    * consecutive run and rejects past its bound. Greedy without
    * backtracking, which [[validatePattern]]'s distinct-adjacent-types
    * rule makes EXACT. No self-joins, no per-combination scans; cost
    * is the timeline sort the B-family already pays.
    *
    * Output: one row per anchor — (user_id, id_0, ts_0, n_<i> for each
    * quantified step i, id_last, span_ms), ordered by (user_id, id_0).
    */
  def patternSpec(spark: SparkSession, dir: String,
      steps: Seq[PatternStep] = PatternSpecSteps,
      maxSpanMin: Int = PatternMaxSpanMin): DataFrame = {
    validatePattern(steps)
    val nLeads = patternLeadWidth(steps)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val withLeads = (1 to nLeads).foldLeft(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))) { (d, i) =>
      d.withColumn(s"type_$i", lead(col("event_type"), i).over(w))
        .withColumn(s"id_$i", lead(col("event_id"), i).over(w))
        .withColumn(s"ts_$i", lead(col("ts"), i).over(w))
    }
    // 0-based position arrays (position 0 = the anchor row itself);
    // `get` returns null past the horizon, so every type test below
    // null-safes to false via coalesce
    val types = array(col("event_type") +:
      (1 to nLeads).map(i => col(s"type_$i")): _*)
    val ids = array(col("event_id") +:
      (1 to nLeads).map(i => col(s"id_$i")): _*)
    val tsMs = array(unix_millis(col("ts")) +:
      (1 to nLeads).map(i => unix_millis(col(s"ts_$i"))): _*)
    def typeAt(p: Column): Column = get(types, p.cast("int"))
    def isType(p: Column, tpe: String): Column =
      coalesce(typeAt(p) === lit(tpe), lit(false))
    // the in-row greedy fold: ok accumulates the match predicate, pos
    // the anchor-relative next-unconsumed position, counts the
    // quantified steps' consumed lengths
    var ok: Column = col("event_type") === lit(steps.head.tpe)
    var pos: Column = lit(1)
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Int, Column)]
    steps.zipWithIndex.tail.foreach { case (st, idx) =>
      st.quant match {
        case PatternQuant.One =>
          ok = ok && isType(pos, st.tpe)
          pos = pos + lit(1)
        case PatternQuant.Opt =>
          val took = isType(pos, st.tpe)
          counts += idx -> when(took, lit(1L)).otherwise(lit(0L))
          pos = pos + when(took, lit(1)).otherwise(lit(0))
        case PatternQuant.Plus(k) =>
          // maximal consecutive run of st.tpe from pos, capped at k+1
          // (k+1 = overrun = out of contract): first non-matching
          // offset ends the run
          val run = (0 to k).foldRight(lit(k + 1): Column) { (i, els) =>
            when(!isType(pos + lit(i), st.tpe), lit(i)).otherwise(els)
          }
          counts += idx -> run.cast(LongType)
          ok = ok && run.between(1, k)
          pos = pos + run
      }
    }
    val endPos = (pos - lit(1)).cast("int")
    val countCols = counts.toSeq.map { case (i, c) => c.as(s"n_$i") }
    withLeads
      .filter(col("event_type") === lit(steps.head.tpe))
      .select(Seq(col("user_id"), col("event_id").as("id_0"),
        col("ts").as("ts_0"), ok.as("ok")) ++ countCols ++ Seq(
        get(ids, endPos).as("id_last"),
        (get(tsMs, endPos) - unix_millis(col("ts"))).as("span_ms")): _*)
      .filter(col("ok") &&
        col("span_ms") <= lit(maxSpanMin.toLong * 60000L))
      .drop("ok")
      .orderBy("user_id", "id_0")
  }

  /** B25b: NEGATION pattern — the abandonment query (view→click with
    * NO purchase following within the horizon): the complement CEP
    * shape alerting/retargeting runs. A prefix match (strictly
    * consecutive, like B25) is abandoned when the NEXT event after
    * the prefix is missing, a different type, or beyond the horizon —
    * absence is decided from the same lead() window, no second scan.
    * The horizon is the B25 span bound, so "no conversion yet" and
    * "conversion too late" coincide deliberately. NOTE the batch
    * caveat a stream must handle differently: at the END of a
    * timeline, absence-of-next is PROVEN absence only because the
    * table is complete; the streaming dual would hold the verdict
    * until the watermark passes the horizon (the E31 device).
    */
  def patternAbandoned(spark: SparkSession, dir: String,
      prefix: Seq[String] = PatternSeq.init,
      next: String = PatternSeq.last,
      maxSpanMin: Int = PatternMaxSpanMin): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val nIdx = prefix.length // index of the would-be completion
    val withLeads = (1 to nIdx).foldLeft(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))) { (d, i) =>
      d.withColumn(s"type_$i", lead(col("event_type"), i).over(w))
        .withColumn(s"id_$i", lead(col("event_id"), i).over(w))
        .withColumn(s"ts_$i", lead(col("ts"), i).over(w))
    }
    val last = prefix.length - 1
    val prefixSpan =
      if (last == 0) lit(0L)
      else unix_millis(col(s"ts_$last")) - unix_millis(col("ts"))
    withLeads
      .filter(col("event_type") === prefix.head)
      .filter(if (last == 0) lit(true)
        else (1 to last).map(i => col(s"type_$i") === prefix(i))
          .reduce(_ && _))
      .withColumn("prefix_span_ms", prefixSpan)
      .filter(col("prefix_span_ms") <= maxSpanMin.toLong * 60000L)
      .withColumn("next_gap_ms",
        unix_millis(col(s"ts_$nIdx")) - unix_millis(col("ts")))
      .withColumn("abandon_reason",
        when(col(s"type_$nIdx").isNull, "timeline_end")
          .when(col(s"type_$nIdx") =!= next, "diverted")
          .when(col("next_gap_ms") > maxSpanMin.toLong * 60000L, "too_late")
          .otherwise("converted"))
      .filter(col("abandon_reason") =!= "converted")
      .select(col("user_id"), col("event_id").as("id_0"),
        col("ts").as("ts_0"), col(s"id_$last").as("id_last"),
        col("abandon_reason"))
      .orderBy("user_id", "id_0")
  }

  /** B20: click→purchase attribution — every (purchase, click) pair
    * where the same user clicked within the 24 h BEFORE the purchase
    * (all qualifying touches, not just the latest — the dual of
    * [[asofPriorError]]'s latest-only as-of join). Equi-join on
    * user_id with the time range as a post-join band filter: the
    * shuffle keys on user (high-cardinality, skew-free at scale) and
    * the band prunes per-user pair blowup to the window. The streaming
    * twin is StreamOps.attributionStream (stream–stream interval join,
    * same band).
    */
  val AttributionWindowHours = 24

  /** The ONE copy of the attribution band join (user equi-key +
    * trailing window) — B20/B20b/B20c all derive from it, mirroring
    * StreamOps.attributionJoin, so the band cannot desynchronize
    * between the faces.
    */
  private def attributionPairs(spark: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    buys.join(clicks,
      col("user_id") === col("c_user") &&
      col("click_ts") <= col("purchase_ts") &&
      col("click_ts") > col("purchase_ts") -
        expr(s"INTERVAL $AttributionWindowHours HOURS"), joinType)
  }

  private def minsBefore: org.apache.spark.sql.Column =
    floor((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
      / lit(60000000L)).cast(LongType).as("mins_before")

  def attribution(spark: SparkSession, dir: String): DataFrame =
    attributionPairs(spark, dir, "inner")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"), minsBefore)
      .orderBy("purchase_id", "click_id")

  // ── B26: KEYLESS interval (range) join ──────────────────────────

  /** Incident anchors: severe errors (value above this) open a
    * system-wide window. Global — NOT keyed by user — so the join has
    * no equi-key at all, the case Catalyst can only plan as a
    * nested-loop theta join.
    */
  val IncidentValueMin  = 150.0
  val IncidentWindowMin = 30
  val IncidentWindowMicros: Long = IncidentWindowMin.toLong * 60L * 1000000L

  /** The binned range-join kernel: rewrite `ev.ts ∈ [s, e)` — a pure
    * range predicate with NO equality — into an EQUI-join on time
    * buckets. Each interval explodes into the buckets it covers
    * (⌈len/bucket⌉+1 rows, bounded when interval length is bounded);
    * each probe row computes its single bucket in-row; the bucket
    * equi-join then sees every true pair EXACTLY once (a probe's one
    * bucket meets each interval's exploded set in at most one row),
    * and the residual range filter removes same-bucket non-overlaps.
    * B20's attribution band join doesn't need this (user_id is its
    * equi-key); this is for GLOBAL windows, where the naive plan is a
    * BroadcastNestedLoopJoin whose cost is |events|·|intervals| — at
    * 100 TB, O(n·m) comparisons vs the binned plan's O(matches).
    * Intervals here are the small derived side, so they broadcast and
    * the probe table never shuffles for the join at all.
    *
    * `intervals` must carry (incident_id, s_us, e_us) with e_us > s_us
    * end-exclusive; `events` must carry a `ts` timestamp.
    */
  def binnedIntervalJoin(events: DataFrame, intervals: DataFrame,
      bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    val binned = intervals.withColumn("bucket",
      explode(sequence(
        floor(col("s_us") / bucketMicros).cast(LongType),
        floor((col("e_us") - 1) / bucketMicros).cast(LongType))))
    val probe = events.withColumn("bucket",
      floor(unix_micros(col("ts")) / bucketMicros).cast(LongType))
    probe.join(broadcast(binned), Seq("bucket"))
      .filter(unix_micros(col("ts")) >= col("s_us") &&
        unix_micros(col("ts")) < col("e_us"))
      .drop("bucket")
  }

  /** B26: per-incident activity profile — every event falling inside
    * any severe-error window, grouped by incident and type. The
    * interval side derives from the same table (severe errors open a
    * 30-min global window, overlaps allowed, self-match kept — the
    * anchor is itself activity during its incident); the probe is the
    * whole event stream. Bucket width = window length, so each
    * interval explodes into ≤ 2 bucket rows.
    */
  def incidentJoin(spark: SparkSession, dir: String): DataFrame =
    incidentJoinOn(spark, dir, dir)

  /** B26's scale-regime twin: the interval side derived from
    * `incidentDir` while the probe stream reads `dir`. With both set
    * to the same dir this IS B26; ScaleAudit holds `incidentDir` at
    * the BASE corpus while events amplify — the production shape
    * (global severe-error windows don't grow with event volume), which
    * isolates the ENGINE's growth from the F²-by-construction match
    * growth the symmetric amplification creates (both sides ×F ⇒ true
    * pairs ×F²; fixed intervals ⇒ pairs ×F, the regime a real deploy
    * scales in).
    */
  private[graft] def incidentJoinOn(spark: SparkSession, dir: String,
      incidentDir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val incidents = Tables.events(spark, incidentDir)
      .filter(col("event_type") === "error" &&
        col("value") > IncidentValueMin)
      .select(col("event_id").as("incident_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + IncidentWindowMicros).as("e_us"))
    binnedIntervalJoin(
      ev.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type")),
      incidents, IncidentWindowMicros)
      .groupBy(col("incident_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("incident_id", "event_type")
  }
}
