package graft

import graft.plans.TopK
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKSpec extends GraftSpec with AdaptiveSparkPlanHelper {

  test("TopKPerKey matches window row_number exactly") {
    val ev = Tables.events(spark, Sf)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val expected = ev
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("user_id", "event_id", "value", "rnk")
    val got = TopK.perKey(ev,
        Seq(col("user_id")), Seq(col("value").desc, col("event_id").asc), 5)
      .select("user_id", "event_id", "value", "rnk")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("TopKPerKey handles keys with fewer than k rows") {
    val ev = Tables.events(spark, Sf).filter(col("event_id") < 30)
    val got = TopK.perKey(ev, Seq(col("user_id")),
      Seq(col("value").desc, col("event_id").asc), 1000)
    assert(got.count() == ev.count())
  }

  test("two chained TopKPerKey on the same key share one exchange") {
    val ev = Tables.events(spark, Sf)
    val first = TopK.perKey(ev, Seq(col("user_id")),
        Seq(col("value").desc, col("event_id").asc), 5, "rnk1")
      .select("user_id", "event_id", "value")
    val got = TopK.perKey(first, Seq(col("user_id")),
      Seq(col("event_id").asc), 2)
    got.collect()
    val plan = got.queryExecution.executedPlan
    val exchanges = collect(plan) { case e: Exchange => e }
    assert(exchanges.size == 1, plan.toString)
    // same rows as the window form of the two steps
    val w1 = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val expected = ev.withColumn("r1", row_number().over(w1)).filter(col("r1") <= 5)
      .withColumn("rnk", row_number().over(w2).cast("long")).filter(col("rnk") <= 2)
      .select("user_id", "event_id", "value", "rnk")
    val rows = got.select("user_id", "event_id", "value", "rnk")
    assert(rows.exceptAll(expected).isEmpty && expected.exceptAll(rows).isEmpty)
  }

  test("TopKPerKey plan contains the custom exec pair") {
    val ev = Tables.events(spark, Sf)
    val got = TopK.perKey(ev, Seq(col("user_id")),
      Seq(col("value").desc, col("event_id").asc), 3)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyExec") || plan.contains("TopKPerKey"))
    assert(plan.contains("PartialTopKPerKey"))
  }
}
