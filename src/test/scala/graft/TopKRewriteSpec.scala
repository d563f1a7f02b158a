package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Registers the rule via experimental hooks — getOrCreate may hand
  * back another suite's session in the shared test JVM, which would
  * silently ignore withExtensions.
  */
class TopKRewriteSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = graft.GraftSession.builder()
      .master("local[4]")
      .appName("graft-rewrite-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.TopK.ensureRegistered(s) // strategy: plans the rewritten node
    if (!s.experimental.extraOptimizations.contains(graft.plans.TopKRewriteRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.TopKRewriteRule
    s
  }

  private def windowTopK(s: SparkSession) = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, Sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .select("user_id", "event_id", "value", "rn")
  }

  test("row_number+filter window is rewritten to TopKPerKeyExec") {
    val df = windowTopK(spark)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      "window survived the rewrite")
  }

  test("rewritten plan returns the same rows as an un-extended session") {
    val got = windowTopK(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // reference result computed without the rule: row_number via a
    // subquery the rule does not match (extra window column blocks it)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val ref = Tables.events(spark, Sf)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(w)) // second window expr -> no rewrite
      .filter(col("rn") <= 4)
      .select("user_id", "event_id", "value", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == ref)
  }

  /** rank()/dense_rank() parity harness: run the same predicate with
    * the rewrite (extended session) and compare to the window result
    * computed in a shape the rule does not match (extra window expr).
    */
  private def rankParity(fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      k: Int): Unit = {
    // low-cardinality ordering key (value bucketed to whole units)
    // guarantees boundary ties, the case where rank semantics differ
    // from row_number
    val w = Window.partitionBy(col("user_id"))
      .orderBy(floor(col("value") * 0.1).desc)
    val rewritten = Tables.events(spark, Sf)
      .withColumn("rn", fn(org.apache.spark.sql.functions.lit(0)).over(w))
      .filter(col("rn") <= k)
      .select("user_id", "event_id", "rn")
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    val got = rewritten.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ref = Tables.events(spark, Sf)
      .withColumn("rn", fn(org.apache.spark.sql.functions.lit(0)).over(w))
      .withColumn("cnt", count(lit(1)).over(w)) // second window expr -> no rewrite
      .filter(col("rn") <= k)
      .select("user_id", "event_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == ref, s"rewritten=${got.size} window=${ref.size}")
    // with ties at the boundary, rank may keep MORE than k rows per key
    // — prove the harness exercises that case
    assert(got.size > ref.count(_._3 == 1))
  }

  test("rank <= k keeps boundary ties and matches the window form") {
    rankParity(_ => rank(), 3)
  }

  test("dense_rank <= k keeps whole key groups and matches the window form") {
    rankParity(_ => dense_rank(), 3)
  }

  test("rank = 1 form (all rows tying the best) is rewritten and exact") {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(floor(col("value") * 0.1).desc)
    val df = Tables.events(spark, Sf)
      .withColumn("rn", rank().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id")
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val ref = Tables.events(spark, Sf)
      .withColumn("rn", rank().over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      ref.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("evt_latest_per_key and evt_upsert_latest plan through TopKPerKey") {
    // the production rn = 1 idioms (EventOps B1/B8) must hit the
    // operator, not a full window sort
    for (fn <- Seq(graft.operators.EventOps.latestPerKey _,
        graft.operators.EventOps.upsertLatest _)) {
      val p = fn(spark, Sf).queryExecution.executedPlan.toString
      assert(p.contains("TopKPerKey"), p.take(2000))
      assert(!p.contains("RunningWindowFunction"), "window survived the rewrite")
    }
  }

  test("alias-only projection between filter and window still rewrites") {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val df = Tables.events(spark, Sf)
      .withColumn("rn", row_number().over(w))
      .select(col("user_id").as("uid"), col("event_id").as("eid"),
        col("rn").as("r"))
      .filter(col("r") <= 4)
    // the exact pre-rule shape (projects collapsed, filter NOT pushed)
    // the rule must match on its own — the optimizer's own filter
    // pushdown can also surface case 1, so this pins the
    // Project-with-alias branch itself
    val collapsed = org.apache.spark.sql.catalyst.optimizer.CollapseProject(
      df.queryExecution.analyzed)
    val direct = graft.plans.TopKRewriteRule(collapsed)
    assert(direct.collectFirst {
      case t: graft.plans.TopKPerKey => t }.isDefined,
      s"alias projection not matched:\n${df.queryExecution.analyzed}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      "window survived the rewrite")
    val ref = Tables.events(spark, Sf)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(w)) // second window expr -> no rewrite
      .select(col("user_id").as("uid"), col("event_id").as("eid"),
        col("rn").as("r"))
      .filter(col("r") <= 4)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      ref.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
  }

  test("rn = 1 latest-per-key form is rewritten too") {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val df = Tables.events(spark, Sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    assert(df.count() ==
      Tables.events(spark, Sf).select("user_id").distinct().count())
  }
}
