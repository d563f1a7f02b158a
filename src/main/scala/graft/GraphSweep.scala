package graft

import org.apache.spark.sql.functions.col

/** One-shot measurement harness for the graph-ANN knee (D76): serve
  * recall@10 vs the exact baseline across graph degree K, NN-descent
  * rounds, beam width and hop count. Prints one JSON line per
  * configuration; the chosen knee is pinned as
  * [[graft.operators.AnnOps.GraphK]] / GraphRounds / GraphBeam /
  * GraphHops and replicated by the oracle SQL, so this main is a
  * measurement tool, not a gate (the LloydSweep pattern).
  *
  * Usage: runMain graft.GraphSweep [sfDir]
  */
object GraphSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import operators.AnnOps

    val exact = AnnOps.annCosineTopK(spark, dir).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val denom = exact.size * 10

    for (k <- Seq(8, 12, 16); rounds <- Seq(1, 2, 3); beam <- Seq(12, 16, 24)) {
      val t0 = System.nanoTime()
      val beams = AnnOps.graphBeams(spark, dir, hops = 5, beam = beam,
        k = k, nRounds = rounds)
      val recalls = beams.map { bm =>
        val rows = graft.plans.TopK.perKey(bm, Seq(col("q_id")),
            Seq(col("sim").desc, col("c_id").asc), 10)
          .select("q_id", "c_id").collect()
        val hits = rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
          rs.count(r => exact(q)(r.getAs[Long]("c_id")))
        }.sum
        hits.toDouble / denom
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"k":$k,"rounds":$rounds,"beam":$beam,""" +
        s""""recall_by_hop":[${recalls.map(r => f"$r%.3f").mkString(",")}],""" +
        s""""sec":${math.round(sec * 100) / 100.0}}""")
    }
    spark.stop()
  }
}
