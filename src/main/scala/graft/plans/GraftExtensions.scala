package graft.plans

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

/** SparkSessionExtensions entry point so deployments can enable the
  * graft planner strategies AND SQL functions declaratively:
  *
  * {{{
  * spark.sql.extensions=graft.plans.GraftExtensions
  * // or: SparkSession.builder().withExtensions(new GraftExtensions)
  * spark.sql("SELECT graft_simhash64(split(text, ' ')) FROM docs")
  * }}}
  *
  * (TopK.perKey and IvfSearch.over also self-register their strategies
  * via experimental strategies for ad-hoc sessions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectPlannerStrategy(_ => IvfSearchStrategy)
    e.injectOptimizerRule(_ => TopKRewriteRule)
    GraftExtensions.sqlFunctions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  private type Reg = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  private def fn(name: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): Reg = {
    val builder: Seq[Expression] => Expression = args =>
      build.applyOrElse(args, (a: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: unsupported arguments (${a.length}); $usage"))
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name), builder)
  }

  /** Kernel expressions for spark.sql users — the same codegen'd
    * expressions the DataFrame API wraps.
    */
  private[graft] val sqlFunctions: Seq[Reg] = Seq(
    fn("graft_gzip", "gzip-compress binary content") {
      case Seq(c) => GzipCompress(c)
    },
    fn("graft_gunzip", "gzip-decompress binary content") {
      case Seq(c) => GzipDecompress(c)
    },
    fn("graft_gbk_decode", "decode GBK bytes to string") {
      case Seq(c) => GbkDecode(c)
    },
    fn("graft_simhash64", "64-bit simhash of a token array") {
      case Seq(c) => SimHash64(c)
    },
    fn("graft_minhash",
      "k-slot minhash signature of a string array; args (arr, k)") {
      case Seq(c, IntegerLiteral(k)) => MinHashSignature(c, k)
    },
    fn("graft_winnow",
      "winnowing fingerprints; args (text, kgram, window)") {
      case Seq(c, IntegerLiteral(k), IntegerLiteral(w)) =>
        WinnowFingerprints(c, k, w)
    },
    fn("graft_strhash64", "64-bit poly+splitmix64 hash of a string") {
      case Seq(c) => StrHash64(c)
    },
    fn("graft_window_hashes",
      "all L-token window fingerprints of a token array; args (arr, L)") {
      case Seq(c, IntegerLiteral(l)) => WindowHashes(c, l)
    },
    fn("graft_vec_dot", "dot product of two double arrays") {
      case Seq(a, b) => VecDot(a, b)
    },
    fn("graft_hyperplane_bucket",
      "LSH hyperplane bucket of a double array; args (vec, nPlanes)") {
      case Seq(c, IntegerLiteral(n)) => HyperplaneBucketExpr(c, n)
    },
    fn("graft_tfidf",
      "rational tf-idf score (tf*nDocs)/df; args (tf, df, nDocs) as longs") {
      case Seq(tf, df, n) => TfIdfScore(tf, df, n)
    },
    fn("graft_pmi",
      "rational PMI association (cAb*nTokens)/(cA*cB); args (cAb, cA, cB, nTokens) as longs") {
      case Seq(cab, ca, cb, n) => PmiScore(cab, ca, cb, n)
    },
    fn("graft_bm25_idf",
      "rational BM25 idf (nDocs-df+0.5)/(df+0.5); args (nDocs, df) as longs") {
      case Seq(n, df) => Bm25Idf(n, df)
    },
    fn("graft_mix64",
      "splitmix64 finalizer of a long (shard assignment / checksums)") {
      case Seq(x) => Mix64(x)
    },
    fn("graft_qlog2",
      "monotone integer log2 in Q10 fixed point; arg n >= 1 as long") {
      case Seq(n) => QLog2(n)
    },
    fn("graft_zinterleave",
      "Morton z-order interleave of two 31-bit cell coordinates (longs)") {
      case Seq(x, y) => ZInterleave(x, y)
    },
    fn("graft_mg_sketch",
      "Misra-Gries frequent-items sketch of a string column; args (col, capacity)") {
      case Seq(c, IntegerLiteral(cap)) =>
        MisraGries(c, cap).toAggregateExpression()
    })

  /** Idempotent registration into an EXISTING session — getOrCreate
    * never applies `spark.sql.extensions` to a pre-existing session,
    * so GraftSession (and tests) register directly, mirroring the
    * TopK strategy self-registration.
    */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
