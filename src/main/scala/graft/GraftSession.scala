package graft

import org.apache.spark.sql.SparkSession

/** Tuned session builder for graft workloads.
  *
  * Knob reasoning (scaled for local[n] here; the same ratios hold on a
  * real cluster):
  *  - shuffle.partitions ≈ 2× total cores (locally just n) — the
  *    driver's 100 TB deployment would set ~2× executor-cores×executors.
  *  - AQE on: runtime coalescing, skew-join splitting, join re-plan.
  *  - files.maxPartitionBytes 128m: scan parallelism vs task overhead.
  *  - UTC session TZ: oracle/engine parity for all timestamp math.
  *  - GraftExtensions: TopKPerKey strategy + row_number-topk rewrite.
  *  - `file:` bound to [[sources.LocalFs]] (every builder in the repo
  *    starts from [[builder]]): without native Hadoop, stock local
  *    `chmod` forks a process for each file and directory it writes.
  */
object GraftSession {
  /** `spark.sql.maxPlanStringLength` for every session that caps it:
    * SPARK_GRAFT_MAX_PLAN_STR, default 64 KB (see [[local]]).
    */
  val MaxPlanStringLength: String =
    sys.env.getOrElse("SPARK_GRAFT_MAX_PLAN_STR", (64 << 10).toString)

  /** `SparkSession.builder()` with the engine's `file:` filesystem. */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.hadoop.fs.file.impl", classOf[sources.LocalFs].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // Persisted-layout joins (LayoutOps): a table bucketed on ONE
      // key (e.g. band_hash) already co-locates rows for any join
      // whose keys INCLUDE that column; allowing subset-key
      // co-partitioning lets those joins reuse the persisted
      // clustering instead of re-shuffling both sides on the full
      // key tuple.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // Keep bucketed scans bucketed: the auto-disable rule only
      // credits joins/aggregations ("interesting partitioning"), not
      // bucket PRUNING, so it would silently turn a literal-key probe
      // of a layout table (IVF-PQ probed lists, postings term lookup)
      // back into a full-file scan.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Every Dataset action renders the physical-plan description for
      // the SQL listener event — and AQE re-renders it per query
      // stage. For deep memoized lineages (the graph/PQ hop chains,
      // where each InMemoryRelation prints its cached child
      // recursively) an uncapped render costs ~1 s of driver CPU per
      // action (stack-sampled, r15). 64 KB keeps debuggability;
      // ExplainAudit raises it per-session for full-plan audits.
      .config("spark.sql.maxPlanStringLength", MaxPlanStringLength)
      .getOrCreate()
    // getOrCreate may return a pre-existing session where the
    // extensions config never applied — register idempotently.
    plans.TopK.ensureRegistered(s)
    if (!s.experimental.extraOptimizations.contains(plans.TopKRewriteRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ plans.TopKRewriteRule
    plans.GraftExtensions.registerFunctions(s)
    s
  }
}
