package graft

/** One-shot measurement harness for the Lloyd-rounds knee (the round-8
  * quantizer-quality question): recall@10 vs the exact baseline for
  * the IVF-Flat and residual IVF-PQ paths at refinement rounds 1/3/5.
  * Prints one JSON line per configuration; the chosen knee is pinned
  * as [[graft.operators.AnnOps.LloydRounds]] /
  * [[graft.operators.AnnOps.PqLloydRounds]] and replicated by the
  * oracle SQL, so this main is a measurement tool, not a gate.
  *
  * Usage: runMain graft.LloydSweep [sfDir]
  */
object LloydSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import operators.AnnOps

    val exact = AnnOps.annCosineTopK(spark, dir).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val denom = exact.size * 10
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val hits = rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
        rs.count(r => exact(q)(r.getAs[Long]("c_id")))
      }.sum
      hits.toDouble / denom
    }
    def emit(method: String, rounds: (Int, Int), r: Int, rec: Double,
        sec: Double): Unit =
      println(s"""{"method":"$method","ivf_rounds":${rounds._1},""" +
        s""""pq_rounds":${rounds._2},"r":$r,"recall@10":$rec,""" +
        s""""sec":${math.round(sec * 100) / 100.0}}""")

    for (rounds <- Seq(1, 3, 5)) {
      for (np <- Seq(4, 8)) {
        val t0 = System.nanoTime()
        val rec = recall(
          AnnOps.annIvfM(spark, dir, AnnOps.DefaultM, np, rounds = rounds)
            .collect())
        emit(s"ivf_np$np", (rounds, 0), 0, rec, (System.nanoTime() - t0) / 1e9)
      }
    }
    // residual ivfpq: ADC-order (r=10, no rerank slack) and the
    // production shortlist (r=IvfPqR), at 8 and 16 subspaces
    for (nSub <- Seq(8, 16)) {
      for ((ir, pr) <- Seq((1, 1), (1, 3), (3, 1), (3, 3), (5, 5))) {
        for (r <- Seq(10, AnnOps.IvfPqR)) {
          val t0 = System.nanoTime()
          val rec = recall(AnnOps.annIvfPqRes(spark, dir, r = r,
            ivfRounds = ir, pqRounds = pr, nSub = nSub).collect())
          emit(s"ivfpq_res$nSub", (ir, pr), r, rec,
            (System.nanoTime() - t0) / 1e9)
        }
      }
    }
    spark.stop()
  }
}
