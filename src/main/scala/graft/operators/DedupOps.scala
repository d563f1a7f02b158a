package graft.operators

import graft.Tables
import graft.functions.Exact.lcount
import graft.functions.{SimHash, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** D1–D4, D12: the deduplication family for LLM-training-data curation.
  *
  * Scale design: every near-dup variant generates candidates through a
  * high-cardinality blocked join (shingle / band-bucket / hamming-band
  * / lsh-bucket) — never an unblocked O(n²) cross join — so the
  * shuffle key spreads across the cluster and candidate verification
  * touches only bucket-cohabitant pairs.
  */
object DedupOps {

  /** D1: exact dedup — hash-groupBy on content checksum; the kept doc
    * is the smallest id, like keep-first-seen at scale.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("checksum"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).cast(LongType).as("dup_cnt"))
      .orderBy("keep_id")

  /** Shingle table, persisted once per session (Memo): the interpreted
    * HOF derivation runs once post-exchange in parallel, Catalyst's
    * inferred isnotnull-filters on downstream join keys hit cached
    * attributes instead of re-deriving (and worse, being pushed below
    * the spread exchange onto the single scan partition), and repeat
    * invocations share one cache entry instead of re-registering the
    * same plan.
    */
  private[graft] def withShingles(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"shingles:$dir") {
      Tables.documents(spark, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .withColumn("shingles", TextFns.shingles3(col("toks")))
        .withColumn("nsh", size(col("shingles")).cast(LongType))
        .select("doc_id", "lang", "shingles", "nsh")
    }

  /** Bench warm-up hook: materialize the session-shared derived caches
    * (shingle table + ngram candidate pairs here, embedding norms in
    * AnnOps) so serial and concurrent passes measure the same
    * per-query work.
    */
  def warmShared(spark: SparkSession, dir: String): Unit = {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // the shingle table first and alone (everything else derives from
    // it), then the independent artifacts concurrently (guide §2.6,
    // r15 opt — identical results, Memo builds shared state once):
    //  - winnow layout artifacts (inverted lists + denominators)
    //  - the CC-label artifact shared by D13/D23/corpus_build (its
    //    iterative loop materializes eagerly inside Memo, so touching
    //    it is enough)
    noop(withShingles(spark, dir))
    graft.Par.run(spark, Seq(
      () => noop(ngramPairs(spark, dir)),
      () => noop(substringWins(spark, dir, SubstringL)),
      () => noop(winnowNf(spark, dir)),
      () => noop(clusterLabels(spark, dir))))
    ()
  }

  /** Unsorted near-dup candidate pairs (a_id < b_id) with set sizes and
    * intersection counts — the shared core of D2 and D13. Explode
    * distinct shingles, self-join blocked by (lang, shingle), count
    * intersections.
    */
  /** Exploded (doc_id, lang, nsh, shingle) rows — shared by the D2/D13
    * self-join and incremental dedup's new-vs-corpus join.
    */
  private[graft] def shingleExploded(spark: SparkSession, dir: String): DataFrame =
    withShingles(spark, dir)
      .select(col("doc_id"), col("lang"), col("nsh"),
        explode(col("shingles")).as("shingle"))

  /** The exploded shingle table pre-partitioned by its join key — the
    * in-session stand-in for a shingle-bucketed layout table (cf.
    * D36d's persisted band signatures). Every consumer of the
    * (lang, shingle) clustering reuses this ONE cached exchange: the
    * ngramPairs / standing-labels self-joins plan exchange-free on
    * both sides, and the incremental delta-edge join (D28b) shuffles
    * only the delta's shingles where it previously re-exchanged the
    * whole union table per run — the corpus-sized marginal cost the
    * crossover measurement caught.
    */
  private[graft] def shinglesByKey(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"shinglesByKey:$dir") {
      shingleExploded(spark, dir)
        .repartition(col("lang"), col("shingle"))
    }

  private def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    // memoized: D2 (pairs + jaccard) and D13 (the CC edge list) share
    // this self-join — the most expensive derivation in the dedup
    // family; its output (candidate pairs) is tiny relative to the
    // join work, so one session-cached copy serves both
    graft.Memo.df(spark, s"ngramPairs:$dir") {
      // both self-join sides read the (lang, shingle)-partitioned
      // session artifact: the cached clustering satisfies the join's
      // distribution on BOTH sides, so the join plans with zero
      // exchanges (sorts only) instead of re-shuffling the whole
      // exploded shingle table twice
      val ex = shinglesByKey(spark, dir)
      val a = ex.select(col("lang").as("l_a"), col("shingle").as("sh_a"),
        col("doc_id").as("a_id"), col("nsh").as("n_a"))
      val b = ex.select(col("lang").as("l_b"), col("shingle").as("sh_b"),
        col("doc_id").as("b_id"), col("nsh").as("n_b"))
      a.join(b, col("l_a") === col("l_b") && col("sh_a") === col("sh_b") &&
          col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).cast(LongType).as("inter_cnt"))
        .filter(col("inter_cnt") >= 2)
    }

  /** D2: n-gram Jaccard near-dup — candidate pairs + Jaccard from set
    * sizes. The relational form of MinHash's exact verify step.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)
      .withColumn("jacc", col("inter_cnt").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter_cnt")).cast(DoubleType))
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "jacc")
      .orderBy("a_id", "b_id")

  /** D57's knobs (shared with the oracle builder). */
  val ExplainTau = 0.5
  val ExplainK = 5

  /** D57: dedup explanation — the review face a curation UI needs
    * when a pair is flagged: the k RAREST shared shingles per
    * near-dup pair (global df ascending — the most diagnostic shared
    * phrasing first; ubiquitous boilerplate ranks last). A verdict a
    * human can check beats a bare score. Scale shape: flagged pairs ≪
    * candidate pairs, the shared-shingle derivation joins the
    * memoized exploded table on doc/shingle keys, the df table is
    * vocab-bounded, ranking is the bounded heap.
    *
    * The flagged set is the D71 LOSSLESS truth at τ (r12): the prefix
    * filter produces the exact τ-Jaccard pair set with the lossless
    * scale shape (and its memo is already warm for D74/D75), where
    * D2's blocked self-join — the previous source — carries both the
    * quadratic-prone shape and a candidate floor that drops
    * single-shingle pairs clearing τ. One less D2 dependency in the
    * serving composition; the oracle defines the same truth.
    */
  def dedupExplain(spark: SparkSession, dir: String,
      tau: Double = ExplainTau, k: Int = ExplainK): DataFrame = {
    val flagged = prefixTruth(spark, dir, tau).select("a_id", "b_id")
    val ex = shinglesByKey(spark, dir).select("doc_id", "lang", "shingle")
    val dfTab = ex.groupBy("lang", "shingle")
      .agg(count(lit(1)).cast(LongType).as("df"))
    val aSide = flagged
      .join(ex.withColumnRenamed("doc_id", "a_id"), Seq("a_id"))
    val shared = aSide
      .join(ex.select(col("doc_id").as("b_id"), col("lang"), col("shingle")),
        Seq("b_id", "lang", "shingle"), "left_semi")
      .join(dfTab, Seq("lang", "shingle"))
    graft.plans.TopK.perKey(shared, Seq(col("a_id"), col("b_id")),
        Seq(col("df").asc, col("shingle").asc), k)
      .select("a_id", "b_id", "shingle", "df", "rnk")
      .orderBy("a_id", "b_id", "rnk")
  }

  /** D73 threshold (shared with the oracle builder). */
  val ContainTau = 0.6

  /** D73: containment near-dup join — the ASYMMETRIC complement of
    * D2's Jaccard: containment = inter / min(|A|,|B|) flags a small
    * document mostly contained in a larger one (quotation pages,
    * excerpts, boilerplate-wrapped copies) that Jaccard structurally
    * cannot reach — J ≤ min/max regardless of how complete the
    * containment is, so a 50-shingle doc inside a 1000-shingle doc
    * caps at J ≈ 0.05 while containment reads 1.0. Reuses the ONE
    * memoized candidate frame (ngramPairs, inter ≥ 2 — mirrored in
    * the oracle), so beside D2 this costs only the re-scoring.
    */
  def dedupContainment(spark: SparkSession, dir: String,
      tau: Double = ContainTau): DataFrame =
    ngramPairs(spark, dir)
      .withColumn("cont", col("inter_cnt").cast(DoubleType) /
        least(col("n_a"), col("n_b")).cast(DoubleType))
      .filter(col("cont") >= tau)
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "cont")
      .orderBy("a_id", "b_id")

  /** D71 threshold (shared with the oracle builder). */
  val PrefixTau = 0.5

  /** D71: prefix-filtered EXACT τ-Jaccard join (the AllPairs/PPJoin
    * principle, Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06) —
    * the lossless counterpart of the df-capped variant: candidates
    * come ONLY from each document's prefix (its |x| − ⌈τ·|x|⌉ + 1
    * rarest shingles under the global (df, shingle) order), yet no
    * qualifying pair can be missed — two sets with Jaccard ≥ τ share
    * ≥ ⌈τ·max(|x|,|y|)⌉ shingles, and by the prefix-filtering lemma
    * any pair with that overlap shares at least one shingle inside
    * both prefixes. Rarest-first ordering makes the blocking groups
    * the SMALLEST ones in the corpus: boilerplate shingles (the skew
    * that motivates the df cap) land in suffixes and never generate
    * a candidate, with zero recall loss. Survivors re-verify against
    * the full shingle sets, so emitted rows are bit-identical to the
    * naive blocked join filtered at τ — which is exactly what the
    * oracle states.
    */
  /** τ as an exact decimal ratio num/den (den = 10^scale, scale ≤ 6).
    * `BigDecimal.decimal` recovers the shortest decimal literal of the
    * double (0.3 → 3/10, not the 54-bit binary neighbour); a τ needing
    * more than 6 decimal digits is truncated DOWN, which can only
    * LENGTHEN the prefix — recall-safe. den ≤ 1e6 keeps every product
    * in [[prefixKeep]] inside a Long for any per-document shingle
    * count below ~9e12 (a physical impossibility).
    */
  private[graft] def tauRational(tau: Double): (Long, Long) = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of (0,1]: $tau")
    val bd0 = BigDecimal.decimal(tau)
    val bd = if (bd0.scale <= 6) bd0
      else bd0.setScale(6, scala.math.BigDecimal.RoundingMode.FLOOR)
    val den = BigDecimal(10).pow(math.max(bd.scale, 0)).toLongExact
    ((bd * den).toLongExact, den)
  }

  /** The prefix-membership predicate rn ≤ nsh − ⌈τ·nsh⌉ + 1, computed
    * EXACTLY: with τ = num/den, ⌈a/b⌉ ≤ K ⟺ a ≤ K·b for integers, so
    * the whole bound is one integer comparison — nsh·num ≤
    * (nsh − rn + 1)·den. No division, no float, no epsilon: an IEEE
    * product that lands an ulp above the true integer (10·0.3 =
    * 3.0000000000000004) can neither shorten the prefix (dropping
    * qualifying pairs) nor lengthen it (wasted candidates). Shared by
    * the operator and the lemma property test so the test pins the
    * deployed expression itself.
    */
  private[graft] def prefixKeep(rn: Column, nsh: Column, tau: Double): Column = {
    val (num, den) = tauRational(tau)
    nsh * lit(num) <= (nsh - rn + lit(1L)) * lit(den)
  }

  /** Each document's prefix under the global rarity order — the only
    * shingles that may generate candidates (exposed for the spec's
    * measured reduction claim).
    */
  private[graft] def prefixRows(spark: SparkSession, dir: String,
      tau: Double): DataFrame =
    // memoized (lang, shingle)-clustered like shinglesByKey, so the
    // candidate self-join reads ONE cached exchange on both sides
    // (sorts only) instead of re-shuffling the ranked table twice
    graft.Memo.df(spark, s"prefixRows:$dir:$tau") {
      val ex = shinglesByKey(spark, dir)
      // global shingle rarity: derived from the (lang, shingle)-
      // clustered artifact, so groupBy and join-back plan exchange-free
      val dfTab = ex.groupBy("lang", "shingle")
        .agg(count(lit(1)).cast(LongType).as("df"))
      ex.join(dfTab, Seq("lang", "shingle"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("df").asc, col("shingle").asc)))
        // prefix length nsh − ⌈τ·nsh⌉ + 1 with the ceiling of the TRUE
        // rational product, evaluated in pure integer arithmetic (see
        // prefixKeep) — no float epsilon, so no regime where the ulp of
        // nsh·τ outgrows it (an absolute 1e-9 stops absorbing IEEE
        // error once nsh·τ exceeds ~4e6 — exactly the multi-million-
        // shingle documents a web crawl produces).
        .filter(prefixKeep(col("rn"), col("nsh"), tau))
        // only the join columns ride the clustered persist — rank and
        // sizes are spent once the prefix membership is decided
        .select("lang", "shingle", "doc_id")
        .repartition(col("lang"), col("shingle"))
    }

  /** The deduplicated candidate pairs from the prefix self-join,
    * memoized persisted: the verify's arm decision COUNTS this frame
    * and then consumes it — one materialization serves both.
    */
  private[graft] def prefixCandidates(spark: SparkSession, dir: String,
      tau: Double): DataFrame =
    graft.Memo.df(spark, s"prefixCand:$dir:$tau") {
      val prefix = prefixRows(spark, dir, tau)
      prefix
        .select(col("lang").as("l_a"), col("shingle").as("sh_a"),
          col("doc_id").as("a_id"))
        .join(prefix.select(col("lang").as("l_b"), col("shingle").as("sh_b"),
          col("doc_id").as("b_id")),
          col("l_a") === col("l_b") && col("sh_a") === col("sh_b") &&
            col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
    }

  /** Candidate-pair count above which the exact verify abandons the
    * broadcast arm. Sized to the broadcast budget, not the corpus: two
    * longs a row ⇒ ~64 MB of driver/executor copies at the cap —
    * safely under a default 8 GB executor's headroom. On a clean
    * corpus candidates are near-dup-rare and never approach this; a
    * boilerplate-heavy crawl (30–50% near-dups) makes candidate pairs
    * O(corpus) and MUST take the shuffle arm or kill the driver.
    */
  val CandBroadcastMax = 4000000L

  /** D71: lossless prefix-filtered exact τ-Jaccard join.
    *
    * EAGER-EXECUTION CONTRACT: constructing this DataFrame runs the
    * candidate-pair job (one `count()` over the memoized
    * [[prefixCandidates]] frame) to pick the verify arm — the plan is
    * not side-effect-free. This is deliberate: the arm decision needs
    * the measured candidate volume, the counted frame is persisted and
    * is exactly what the verify then consumes (no extra pass at
    * execution), and freezing the arm at construction makes the plan
    * deterministic for audit/explain. Callers that only want a plan
    * string still pay one candidate materialization per (dir, τ) —
    * amortized across the session by the memo.
    */
  def dedupPrefixFilter(spark: SparkSession, dir: String,
      tau: Double = PrefixTau,
      broadcastMax: Long = CandBroadcastMax): DataFrame = {
    val ex = shinglesByKey(spark, dir)
    val cand = prefixCandidates(spark, dir, tau)
    // exact verify, ADAPTIVE by measured candidate volume (the count
    // reads the memoized frame the verify consumes — no extra pass):
    //  - broadcast arm (candidates under the cap — the clean-corpus
    //    norm): broadcast the pairs and STREAM the clustered shingle
    //    table through the a-side join, zero corpus exchange; the
    //    b-side closure then joins on a superset of the table's
    //    (lang, shingle) clustering, which a serving session elides
    //    via subset-key co-partitioning;
    //  - shuffle arm (dup-heavy corpus): pairs are data-shaped, so
    //    they exchange on the join keys like any fact-fact join —
    //    the corpus-side doc_id shuffle is the honest cost of a
    //    candidate set that no longer fits a broadcast. Both arms
    //    emit bit-identical rows (spec-pinned).
    val candSide = if (cand.count() <= broadcastMax) broadcast(cand) else cand
    val aSide = ex
      .join(candSide, ex("doc_id") === cand("a_id"))
      .select(col("a_id"), col("b_id"), col("lang"), col("shingle"),
        col("nsh").as("n_a"))
    aSide
      .join(ex.select(col("doc_id").as("b_id"), col("lang"),
        col("shingle"), col("nsh").as("n_b")),
        Seq("b_id", "lang", "shingle"))
      .groupBy("a_id", "b_id", "n_a", "n_b")
      .agg(count(lit(1)).cast(LongType).as("inter_cnt"))
      .withColumn("jacc", col("inter_cnt").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter_cnt")).cast(DoubleType))
      .filter(col("jacc") >= tau)
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "jacc")
      .orderBy("a_id", "b_id")
  }

  /** D2 at 100 TB: the blocked self-join's output grows with the
    * SQUARE of each shingle's posting list, so one viral boilerplate
    * shingle (df in the millions) dominates the whole job. The guard
    * drops shingles with document frequency > maxDf before pair
    * generation — the standard stop-shingle cut: a shingle shared by
    * millions of documents carries ~zero Jaccard evidence per pair but
    * quadratic cost. With the cap, per-shingle work is bounded by
    * maxDf² and the join key distribution is skew-free by
    * construction. Results are a subset of D2's with inter_cnt (and
    * thus jacc) now a lower bound; any maxDf ≥ the corpus's true max
    * posting size reproduces D2 exactly (see DedupAnnSpec).
    */
  def dedupNgramJaccardCapped(spark: SparkSession, dir: String,
      maxDf: Int = 1000): DataFrame = {
    val ex = shingleExploded(spark, dir)
    val keep = ex.groupBy(col("lang"), col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("lang", "shingle")
    val capped = ex.join(keep, Seq("lang", "shingle"))
    val a = capped.select(col("lang").as("l_a"), col("shingle").as("sh_a"),
      col("doc_id").as("a_id"), col("nsh").as("n_a"))
    val b = capped.select(col("lang").as("l_b"), col("shingle").as("sh_b"),
      col("doc_id").as("b_id"), col("nsh").as("n_b"))
    a.join(b, col("l_a") === col("l_b") && col("sh_a") === col("sh_b") &&
        col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).cast(LongType).as("inter_cnt"))
      .filter(col("inter_cnt") >= 2)
      .withColumn("jacc", col("inter_cnt").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter_cnt")).cast(DoubleType))
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "jacc")
      .orderBy("a_id", "b_id")
  }

  /** MinHash band-signature table (k=64, 8 bands × 8 rows), persisted
    * once per session — shared by the candidate query (D3) and the
    * candidates→exact-verify composition (D3v).
    */
  private[graft] def minhashBandSigs(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"minhashSigs:$dir") {
      withShingles(spark, dir)
        .withColumn("sig", VectorFns.minhashSignature(col("shingles"), 64))
        .withColumn("bands", VectorFns.bandHashes(col("sig"), 8, 8))
        .select(col("doc_id"), col("lang"), col("sig"),
          posexplode(col("bands")).as(Seq("band_id", "band_hash")))
    }

  /** D3: MinHash + banded LSH — k=64 signature, 8 bands × 8 rows;
    * candidates are pairs sharing a band bucket; estimate = matching
    * signature fraction. At 100 TB this replaces D2's quadratic-ish
    * verify: candidate volume is bounded by bucket co-occupancy.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(minhashBandSigs(spark, dir))

  /** D3's band-bucket pair query over ANY signature frame — the
    * session-memoized table and the persisted layout (LayoutOps)
    * serve through the same code.
    */
  private[graft] def minhashLshFrom(sigs: DataFrame): DataFrame = {
    val a = sigs.select(col("lang").as("l_a"), col("band_id").as("bi_a"),
      col("band_hash").as("bh_a"), col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val b = sigs.select(col("lang").as("l_b"), col("band_id").as("bi_b"),
      col("band_hash").as("bh_b"), col("doc_id").as("b_id"), col("sig").as("sig_b"))
    a.join(b, col("l_a") === col("l_b") && col("bi_a") === col("bi_b") &&
        col("bh_a") === col("bh_b") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("sig_a"), col("sig_b"))
      .agg(count(lit(1)).cast(LongType).as("n_bands_hit"))
      .withColumn("est_jaccard",
        VectorFns.minhashEstimate(col("sig_a"), col("sig_b")))
      .select("a_id", "b_id", "n_bands_hit", "est_jaccard")
      .orderBy("a_id", "b_id")
  }

  /** D74: the band geometries [[dedupRecall]] measures (bands × rows
    * over the k=64 signature), shared with the oracle builder so the
    * measured contract and its oracle cannot drift. The three points
    * NEST (64 = 4·16; an 8×8 band is half of a 4×16 band), so the
    * candidate sets are provably containment-ordered: a pair matching
    * a 16-slot band matches both its 8-slot halves — recall is
    * monotone non-decreasing in the band count by construction, and
    * the spec asserts exactly that.
    */
  val RecallGeoms: Seq[(Int, Int)] = Seq((4, 16), (8, 8), (16, 4))

  /** D74: the dedup-family recall contract — D10e's (ann_recall's)
    * analog for the family's probabilistic member. MinHash-LSH
    * CANDIDATE recall against the exact τ-Jaccard truth, per band
    * geometry over the ONE k=64 signature: more bands of fewer rows
    * trades candidate volume for recall (the LSH S-curve's knob), and
    * this query pins where the default (8×8) sits on that curve. The
    * truth comes from the D71 prefix filter — lossless by the
    * prefix-filtering lemma, at a fraction of the blocked join's
    * cost — so the contract stays cheap enough to re-measure per
    * corpus. Every kernel is deterministic (poly+splitmix64 minhash,
    * exact shingle sets), so the whole curve is DuckDB-replicable: a
    * recall regression is an oracle HASH MISMATCH, not a drifting
    * number in a doc.
    *
    * Scale shape: the signature is computed once (memoized); each
    * geometry is a band-key self-join (volume bounded by bucket
    * co-occupancy) semi-joined against the truth pairs; counts are
    * single scalars per geometry.
    */
  /** The tuner's recall target: `chosen` marks the geometry with the
    * FEWEST bands (candidate volume grows with the band count) whose
    * analytic expected recall at the truth population meets this.
    */
  val TuneTarget = 0.9

  /** Fixed-point scale for the expected-recall sum: per-pair S-curve
    * probabilities are floored to Q40 longs so the cross-pair sum is
    * order-independent (and HUGEINT-replicable) — the one double
    * emission happens after the exact division.
    */
  private val TuneQ: Double = 1099511627776.0 // 2^40

  /** P(candidate | s) = 1 − (1 − s^r)^b, with BOTH powers expanded as
    * left-associated multiplication chains (no pow/libm): each step is
    * exactly rounded, so any engine repeating the chain reproduces the
    * double bit-for-bit — what lets the analytic S-curve live inside
    * the DuckDB oracle. Shared with the oracle builder via the chain
    * SHAPE (the SQL generator repeats it literally).
    */
  private def sCurve(s: Column, b: Int, r: Int): Column = {
    def powChain(x: Column, n: Int): Column =
      (2 to n).foldLeft(x)((acc, _) => acc * x)
    lit(1.0) - powChain(lit(1.0) - powChain(s, r), b)
  }

  /** The exact τ-Jaccard truth pairs (with jacc), memoized: the D74
    * recall query feeds it to three actions (count, hit flags,
    * expected-recall sum) and D75 probes it again — unpersisted, each
    * consumer would re-execute the whole D71 verify, which the r11
    * ScaleAudit flagged as 3× the verify's bytes. Pair-sized.
    */
  private def prefixTruth(spark: SparkSession, dir: String,
      tau: Double): DataFrame =
    graft.Memo.df(spark, s"prefixTruth:$dir:$tau") {
      dedupPrefixFilter(spark, dir, tau).select("a_id", "b_id", "jacc")
    }

  /** Bench warm hook: materialize the D71 lossless-truth memo (shared
    * by D57/D74/D75) untimed, so per-query bench numbers reflect each
    * query's marginal work — the house warmup methodology. NOT used by
    * ScaleAudit's warms: those deliberately meter the truth
    * build inside whichever query first pays it.
    */
  def warmTruth(spark: SparkSession, dir: String): Unit = {
    prefixTruth(spark, dir, PrefixTau)
      .write.format("noop").mode("overwrite").save()
    ()
  }

  def dedupRecall(spark: SparkSession, dir: String,
      tau: Double = PrefixTau): DataFrame = {
    import spark.implicits._
    val truth = prefixTruth(spark, dir, tau)
    val sigs = graft.Memo.df(spark, s"minhashSigOnly:$dir") {
      withShingles(spark, dir)
        .withColumn("sig", VectorFns.minhashSignature(col("shingles"), 64))
        .select("doc_id", "lang", "sig")
    }
    val nTrue = truth.count()
    // ONE self-join at the FINEST banding; the coarser geometries'
    // memberships derive in-row from WHICH fine bands matched — the
    // nesting (64 = 4·16) means a pair shares an 8-slot band iff it
    // shares both its 4-slot halves, and a 16-slot band iff all four
    // quarters. Replaces |geoms| band joins with one (the join is the
    // cost; the flags are free).
    val (fineB, fineR) = RecallGeoms.maxBy(_._1)
    // memoized CLUSTERED on the self-join keys (the ngramPairs
    // device): both join sides read one cached exchange, so the
    // banded stream crosses the wire exactly once at any corpus size
    // — without this the planner broadcasts a side at toy scale and
    // silently flips to shuffling BOTH sides past the threshold (the
    // r11 ScaleAudit caught this query's own first cut at exp 1.73)
    val banded = graft.Memo.df(spark, s"recallBands:$dir") {
      sigs.select(col("doc_id"), col("lang"),
        posexplode(VectorFns.bandHashes(col("sig"), fineB, fineR))
          .as(Seq("band_id", "band_hash")))
        .repartition(col("lang"), col("band_id"), col("band_hash"))
    }
    val a = banded.select(col("lang").as("l_a"), col("band_id").as("bi_a"),
      col("band_hash").as("bh_a"), col("doc_id").as("a_id"))
    val b = banded.select(col("lang").as("l_b"), col("band_id").as("bi_b"),
      col("band_hash").as("bh_b"), col("doc_id").as("b_id"))
    val perPair = a.join(b, col("l_a") === col("l_b") &&
        col("bi_a") === col("bi_b") && col("bh_a") === col("bh_b") &&
        col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(collect_set(col("bi_a")).as("bs"))
    def memberOf(nb: Int): Column = {
      val group = fineB / nb // fine bands per coarse band
      (0 until nb).map { i =>
        (0 until group).map(j => array_contains(col("bs"),
          lit(i * group + j))).reduce(_ && _)
      }.reduce(_ || _)
    }
    val flagged = perPair.join(truth.select("a_id", "b_id"),
      Seq("a_id", "b_id"), "left_semi")
    val hitCols = RecallGeoms.map { case (nb, _) =>
      sum(when(memberOf(nb), 1L).otherwise(0L)).as(s"h$nb")
    }
    val hitRow = flagged.agg(hitCols.head, hitCols.tail: _*).collect()(0)
    // analytic S-curve expectation over the SAME truth population:
    // E[recall] = Σ P(cand | jacc_i) / n_true, the per-pair P floored
    // to Q40 so the sum is order-independent on both engines
    val expCols = RecallGeoms.map { case (nb, nr) =>
      sum(floor(sCurve(col("jacc"), nb, nr) * lit(TuneQ))
        .cast(LongType)).as(s"e$nb")
    }
    val expRow = truth.agg(expCols.head, expCols.tail: _*).collect()(0)
    val rows = RecallGeoms.map { case (nb, nr) =>
      val hits = hitRow.getAs[Long](s"h$nb")
      val eq40 = expRow.getAs[Long](s"e$nb")
      (nb.toLong, nr.toLong, nTrue, hits, eq40)
    }
    val base = rows.toDF("n_bands", "n_rows", "n_true", "hits", "e_q40")
      .withColumn("recall", col("hits").cast(DoubleType) /
        col("n_true").cast(DoubleType))
      .withColumn("expected_recall", col("e_q40").cast(DoubleType) /
        (col("n_true").cast(DoubleType) * lit(TuneQ)))
    // the tuner: fewest bands whose expected recall meets the target
    val qualifying = base.filter(col("expected_recall") >= TuneTarget)
      .agg(min(col("n_bands")).as("pick"))
    base.crossJoin(qualifying)
      .withColumn("chosen", col("pick").isNotNull &&
        col("n_bands") === col("pick"))
      .select("n_bands", "n_rows", "n_true", "hits", "recall",
        "expected_recall", "chosen")
      .orderBy("n_bands")
  }

  /** D4's hamming threshold (shared with D75 and the oracles). */
  val SimhashMaxHamming = 3

  /** The hamming thresholds D75 sweeps (each with its pigeonhole band
    * count h+1 — the geometry a deployment at that threshold would
    * block with). Shared with the oracle generator.
    */
  val SimhashSweepHammings: Seq[Int] = 1 to 5

  /** D75: the SimHash pipeline's recall of the exact τ-Jaccard truth —
    * the dedup family's SECOND probabilistic member measured on the
    * same ruler as D74, as a THRESHOLD CURVE + TUNER (r12, completing
    * the D74 device): per hamming threshold h in [[SimhashSweepHammings]],
    * the fraction of truth pairs whose signatures land within h, with
    * `n_bands` = h+1 (the pigeonhole band count that makes blocking at
    * that threshold lossless — h flips leave ≥1 of h+1 bands intact)
    * and `chosen` = the smallest threshold meeting the D74 target.
    * Because blocking is lossless, per-threshold recall is a pure
    * signature property — computed by attaching both signatures to the
    * pair-sized truth frame and folding all thresholds in ONE
    * aggregation pass (no per-threshold band joins); the deployed
    * h=3 row is pinned equal to the full banded pipeline's hits in
    * spec, so the shortcut is itself verified. The family-choice
    * number (D4-vs-D2/D3) is now a curve like everything else,
    * DuckDB-oracled — a fidelity regression moves `chosen` and fails
    * the hash gate.
    */
  def dedupRecallSimhash(spark: SparkSession, dir: String,
      tau: Double = PrefixTau,
      target: Double = TuneTarget): DataFrame = {
    import spark.implicits._
    val truth = prefixTruth(spark, dir, tau)
    val nTrue = truth.count()
    // one row per doc off the band-exploded memo (band 0 slice — a
    // cached-page read, no recompute)
    val sigs = graft.Memo.df(spark, s"simhashSigs:$dir") {
      simhashBandRows(spark, dir)
    }.filter(col("band") === 0).select("doc_id", "sig")
    val withH = truth.select("a_id", "b_id")
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType))
    val hitCols = SimhashSweepHammings.map(h =>
      sum(when(col("hamming") <= h, 1L).otherwise(0L)).as(s"h$h"))
    val hitRow = withH.agg(hitCols.head, hitCols.tail: _*).collect()(0)
    val base = SimhashSweepHammings.map { h =>
      (h.toLong, (h + 1).toLong, nTrue, hitRow.getAs[Long](s"h$h"))
    }.toDF("max_hamming", "n_bands", "n_true", "hits")
      .withColumn("recall", col("hits").cast(DoubleType) /
        col("n_true").cast(DoubleType))
    val qualifying = base.filter(col("recall") >= target)
      .agg(min(col("max_hamming")).as("pick"))
    base.crossJoin(qualifying)
      .withColumn("chosen", col("pick").isNotNull &&
        col("max_hamming") === col("pick"))
      .select("max_hamming", "n_bands", "n_true", "hits", "recall", "chosen")
      .orderBy("max_hamming")
  }

  /** D3v: MinHash-LSH candidates + exact-Jaccard verify — the full
    * production pipeline that makes D3 a drop-in scale substitute for
    * D2: band-bucket join proposes pairs (recall bounded by the LSH
    * S-curve), then each pair is verified against the true shingle
    * sets with `array_intersect` and kept iff Jaccard ≥ τ.
    *
    * Scale shape: verification is O(|candidates|) doc_id equi-joins
    * against the cached shingle table — never the shingle self-join
    * D2 pays — so the quadratic explosion is gone while the output
    * (for pairs LSH recalls) is bit-identical to D2 filtered at τ.
    * Fully oracle-checked (the kernel's poly+splitmix64 hash is
    * replicated in DuckDB HUGEINT SQL); containment in D2 + recall
    * ≥ 0.9 at τ=0.5 asserted in DedupAnnSpec.
    */
  def dedupMinhashLshVerified(spark: SparkSession, dir: String,
      tau: Double = 0.5): DataFrame = {
    val sigs = minhashBandSigs(spark, dir)
    val a = sigs.select(col("lang").as("l_a"), col("band_id").as("bi_a"),
      col("band_hash").as("bh_a"), col("doc_id").as("a_id"))
    val b = sigs.select(col("lang").as("l_b"), col("band_id").as("bi_b"),
      col("band_hash").as("bh_b"), col("doc_id").as("b_id"))
    val cands = a.join(b, col("l_a") === col("l_b") &&
        col("bi_a") === col("bi_b") && col("bh_a") === col("bh_b") &&
        col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sh = withShingles(spark, dir)
    cands
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sh_a"),
        col("nsh").as("n_a")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"),
        col("nsh").as("n_b")), "b_id")
      .withColumn("inter_cnt",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("jacc", col("inter_cnt").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter_cnt")).cast(DoubleType))
      .filter(col("jacc") >= tau)
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "jacc")
      .orderBy("a_id", "b_id")
  }

  /** D4: SimHash near-dup — 64-bit signatures; pigeonhole blocking on
    * 4×16-bit bands guarantees recall for Hamming distance ≤ 3 (any
    * ≤3-bit difference leaves ≥1 band intact); verify with bit_count.
    */
  /** The band-exploded signature table both D4 and D75 memoize. */
  private def simhashBandRows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("sig", SimHash.simhash64(TextFns.tokens(col("text"))))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val",
        expr("(sig >> (band * 16)) & 65535"))

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = graft.Memo.df(spark, s"simhashSigs:$dir") {
      simhashBandRows(spark, dir)
    }
    val a = sigs.select(col("band").as("k_a"), col("band_val").as("v_a"),
      col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val b = sigs.select(col("band").as("k_b"), col("band_val").as("v_b"),
      col("doc_id").as("b_id"), col("sig").as("sig_b"))
    a.join(b, col("k_a") === col("k_b") && col("v_a") === col("v_b") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashMaxHamming)
      .orderBy("a_id", "b_id")
  }

  /** D13: dedup clusters — connected components over the near-dup
    * pair graph (D2's edges), by Pregel-style min-label propagation:
    * each round every vertex takes the min label among itself and its
    * neighbors; fixpoint = min reachable doc_id = canonical cluster id.
    *
    * The loop is the one genuinely iterative operator in the engine and
    * runs on co-partitioned RDDs (the same design as GraphX): edges are
    * hash-partitioned by src once and reused every round, the
    * labels⋈edges join is narrow (zero shuffle), and only the per-round
    * messages (≤|edges| records) shuffle in the reduceByKey. Catalyst
    * re-planning N times for a loop whose plan never changes costs more
    * driver time than the jobs themselves — RDD rounds have no planner
    * in the loop at all. Convergence: labels only ever decrease, so an
    * unchanged exact BigInt sum(label) means NO label changed; the sum
    * rides the same action that materializes the round.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** Unsorted (doc_id, component, cluster_size) labels — session-
    * memoized so D13 and the consolidation step (D23 keep-best) pay
    * the iterative CC loop once.
    */
  private[operators] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"ccLabels:$dir") { clusterLabelsBuild(spark, dir) }

  private def clusterLabelsBuild(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(spark,
      ngramPairs(spark, dir).select(col("a_id"), col("b_id")),
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id")

  /** The generic CC engine behind D13 (shingle near-dup graph) and
    * D12b (embedding near-dup graph): min-label propagation over any
    * (a_id, b_id) edge list + vertex frame. Output: (idCol, component,
    * cluster_size).
    */
  private[operators] def connectedComponents(spark: SparkSession,
      edgesDF: DataFrame, vertices: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    val edges = edgesDF.as[(Long, Long)]

    // undirected: both directions, partitioned by src once, reused
    // every round (iterate only vertices that have edges; isolated
    // docs are their own component and union back after convergence —
    // at dedup scale most of the corpus is singleton, which keeps the
    // loop's working set to the near-dup subgraph)
    val rawUnd = edges.rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }.persist()
    // AQE-style sizing for the RDD loop: the near-dup subgraph is
    // usually a sliver of the corpus, and every loop round pays a task
    // per partition — size the loop partitioner from the measured edge
    // count (~64k edges/partition) up to full shuffle parallelism so a
    // small graph doesn't schedule 8×32 near-empty tasks and a 100 TB
    // graph still spreads across the cluster.
    val nEdges = rawUnd.count()
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sessionState.conf.numShufflePartitions,
        (nEdges / 65536L).toInt + 1)))
    val und = rawUnd.partitionBy(part).persist()
    var labels = und.keys.map(v => (v, v))
      .reduceByKey(part, (a: Long, _: Long) => a).persist()
    def probe(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      rdd.aggregate(BigInt(0))((acc, kv) => acc + kv._2, _ + _)
    var prevSum = probe(labels) // also materializes und + labels
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // narrow co-partitioned join; only the messages shuffle
      val msgs = und.join(labels)
        .map { case (_, (dst, comp)) => (dst, comp) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val next = labels.leftOuterJoin(msgs)
        .mapValues { case (c, m) => m.fold(c)(math.min(c, _)) }
        .persist()
      rounds += 1
      val s = probe(next)
      converged = s == prevSum
      prevSum = s
      labels.unpersist(false)
      labels = next
    }
    // Non-convergence at the round cap means component labels are still
    // propagating (graph diameter > cap) — failing loudly beats silently
    // returning wrong cluster ids/sizes.
    if (!converged) {
      rawUnd.unpersist(false); und.unpersist(false); labels.unpersist(false)
      throw new IllegalStateException(
        s"connectedComponents: min-label propagation did not converge in $rounds rounds")
    }
    // Pin the converged labels with an EAGER persist (count
    // materializes the blocks while the loop's per-round caches are
    // still live), then release the working set so a long-lived
    // session doesn't accumulate edge RDDs in storage. persist, not
    // localCheckpoint: blocks lost to an executor failure recompute
    // from lineage (slow but correct — the propagation is a
    // deterministic min-fold), where localCheckpoint's truncated
    // lineage would fail the job unrecoverably.
    val labDF = labels.toDF(idCol, "component")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    labDF.count()
    rawUnd.unpersist(false); und.unpersist(false); labels.unpersist(false)
    val active = labDF.select(col(idCol))
    val singletons = vertices.join(active, Seq(idCol), "left_anti")
      .withColumn("component", col(idCol))
    val all = labDF.unionByName(singletons)
    val sizes = all.groupBy("component").agg(lcount.as("cluster_size"))
    all.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"))
  }

  /** D13b: connected components by ALTERNATING LARGE-STAR/SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log² n)-round dual of [[connectedComponents]]'s
    * min-label propagation, whose round count is the graph DIAMETER:
    * a long duplication chain (doc A near-dups B near-dups C …, the
    * boilerplate-template shape real crawls produce) forces the
    * propagation loop through one round per hop, while star rounds
    * HALVE path lengths — the 400-hop chain in the spec converges in
    * 7 rounds where propagation's 50-round cap would emit wrong
    * labels. Same fixpoint: every component becomes a star rooted at
    * its minimum vertex, so the labels are IDENTICAL to propagation's
    * (parity-spec'd, and the query twin shares D13's DuckDB oracle).
    *
    * large-star: per node u, hook every LARGER neighbor to
    * m = min(Γ⁺(u)); small-star: per node u over its smaller
    * neighbors, hook Γ(u) ∪ {u} (minus m) to m. The Σ(u+v) edge
    * potential strictly decreases until the fixpoint — the
    * convergence probe, like propagation's label sum. Per-round cost:
    * two groupBys over the edge list (the near-dup subgraph, a sliver
    * of the corpus — isolated docs never enter the loop); degree is
    * bounded by the same candidate caps that bound the edge list
    * itself (df-capped shingles / banded LSH).
    */
  private[graft] def connectedComponentsStar(spark: SparkSession,
      edgesDF: DataFrame, vertices: DataFrame, idCol: String,
      maxRounds: Int = 50): DataFrame = {
    import spark.implicits._
    val eds = edgesDF.as[(Long, Long)]
    val raw = eds.rdd.filter { case (a, b) => a != b }.persist()
    val nEdges = raw.count()
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sessionState.conf.numShufflePartitions,
        (nEdges / 65536L).toInt + 1)))

    def largeStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) =
      e.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          nbrs.iterator.filter(_ > u).map(v => (v, m))
        }.distinct(part.numPartitions)
    def smallStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) =
      e.map { case (a, b) => if (a > b) (a, b) else (b, a) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          (nbrs.iterator ++ Iterator(u)).filter(_ != m).map(v => (v, m))
        }.distinct(part.numPartitions)

    def potential(e: org.apache.spark.rdd.RDD[(Long, Long)]): (Long, BigInt) =
      e.aggregate((0L, BigInt(0)))(
        { case ((n, s), (a, b)) => (n + 1, s + a + b) },
        { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) })

    var edges = raw
    var prev = potential(edges)
    var rounds = 0
    var converged = nEdges == 0L
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(edges)).persist()
      val p = potential(next)
      rounds += 1
      if (edges ne raw) edges.unpersist(false)
      edges = next
      converged = p == prev
      prev = p
    }
    // fixpoint: edges are (child, root-of-component) star arcs
    val labels = edges.toDF(idCol, "component")
      .unionByName(edges.values.distinct().map(r => (r, r))
        .toDF(idCol, "component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    labels.count()
    raw.unpersist(false); if (edges ne raw) edges.unpersist(false)
    val singletons = vertices
      .join(labels.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("component", col(idCol))
    val all = labels.unionByName(singletons)
    val sizes = all.groupBy("component").agg(lcount.as("cluster_size"))
    all.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"))
  }

  /** D13b as a query: the star-CC labels over the SAME near-dup edge
    * list as D13 — identical output, identical oracle (the algorithm
    * swap is invisible to the contract, which is the point).
    * r15 opt: labels session-memoized like D13's clusterLabels — the
    * star loop (an eager RDD fixpoint) ran on EVERY invocation
    * (~1.2-2.9 s at sf0.1) where the propagation twin paid its loop
    * once per session; the swap stays algorithm-for-algorithm, only
    * the memo discipline is now symmetric. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"ccLabelsStar:$dir") {
      connectedComponentsStar(spark,
        ngramPairs(spark, dir).select(col("a_id"), col("b_id")),
        Tables.documents(spark, dir).select(col("doc_id")), "doc_id")
    }.orderBy("doc_id")

  /** D27: substring/span-level dedup — the suffix-array dedup family
    * ("Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022) re-expressed for Spark: instead of one global
    * suffix array, every length-L token window is fingerprinted
    * (StrHash64 kernel) and windows whose fingerprint occurs at ≥2
    * sites corpus-wide are duplicated spans. Per doc the overlapping
    * duplicated windows are merged into maximal spans, and the output
    * reports span count + duplicated-token fraction.
    *
    * Scale shape: the groupBy(whash) IS the suffix sort — the hash
    * partitioner replaces suffix-array construction, so total work is
    * O(total tokens), never an all-pairs join. The dup-site semi-join
    * matches each window row against ≤1 hash row (no row blowup; AQE
    * skew-split covers a viral boilerplate window), and the coverage
    * explode multiplies only *duplicated* windows by L. The per-doc
    * span merge partitions by doc_id — bounded by one doc's windows.
    */
  def dedupSubstring(spark: SparkSession, dir: String, L: Int = SubstringL): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast(LongType).as("n_toks"))
    // window-fingerprint rows, session-memoized: the fused kernel runs
    // ONCE (not per join branch — Catalyst's inferred isnotnull
    // constraints would otherwise push the whole derivation into the
    // Filter below the exchange on BOTH sides of wins⋈dupHashes)
    val wins = substringWins(spark, dir, L)
    substringCore(docs, wins, L)
  }

  /** Default window length for D27 — the oracle SQL in SparkEntry is
    * generated from THIS constant, so operator and oracle cannot drift.
    */
  final val SubstringL = 8

  /** (doc_id, start, whash) rows — one per length-L token window —
    * persisted once per session (same Memo discipline as every other
    * dedup derivation in this file). The per-window fingerprint is the
    * fused [[graft.functions.WindowHashes]] codegen kernel: one
    * byte-fold per token + O(L) long arithmetic per window, replacing
    * the interpreted transform/slice/concat_ws HOF chain that cost
    * ~25 s at sf0.1 (~6× recomputation across join branches).
    */
  private def substringWins(spark: SparkSession, dir: String, L: Int): DataFrame = {
    // two-step memo: the kernel output is cached BEFORE the posexplode,
    // because InferFiltersFromGenerate plants `size(e)>0 AND
    // isnotnull(e)` below the Generate — against a raw expression that
    // filter re-evaluates the kernel twice per row; against the cached
    // `whashes` attribute it is a cheap array-length check
    val arrays = graft.Memo.df(spark, s"substrWhashes:$dir:$L") {
      Tables.documents(spark, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .filter(size(col("toks")) >= L)
        .withColumn("whashes",
          graft.functions.WindowHashKernel.windowHashes(col("toks"), L))
        .select("doc_id", "whashes")
    }
    graft.Memo.df(spark, s"substrWins:$dir:$L") {
      arrays.select(col("doc_id"),
        posexplode(col("whashes")).as(Seq("start", "whash")))
    }
  }

  /** Test face: same span-merge semantics over an explicit documents
    * DataFrame (doc_id, text), no memoization — lets specs union a
    * cloned doc into the corpus and assert its dup_frac == 1.0.
    */
  private[graft] def dedupSubstringOn(docs: DataFrame, L: Int = SubstringL): DataFrame = {
    val withToks = docs
      .withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast(LongType))
    val wins = withToks.filter(col("n_toks") >= L)
      .withColumn("whashes",
        graft.functions.WindowHashKernel.windowHashes(col("toks"), L))
      .select(col("doc_id"), posexplode(col("whashes")).as(Seq("start", "whash")))
    substringCore(withToks.select("doc_id", "n_toks"), wins, L)
  }

  private def substringCore(docs: DataFrame, wins: DataFrame, L: Int): DataFrame = {
    val dupHashes = wins.groupBy("whash")
      .agg(count(lit(1)).as("sites"))
      .filter(col("sites") >= 2)
      .select("whash")
    // duplicated windows are equal-length intervals [start, start+L-1];
    // per doc the sorted-start interval union gives covered tokens
    // WITHOUT exploding L position rows per window: the first window
    // contributes L, each next min(gap, L) where gap = start − prev
    // start, and a new maximal span begins exactly when gap > L
    // (gap == L is position-contiguous). ~L× less shuffle volume than
    // the explode+distinct formulation, same result by construction.
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
    val spans = wins.join(dupHashes, Seq("whash"))
      .withColumn("gap", col("start") - lag("start", 1).over(byDoc))
      .groupBy("doc_id")
      .agg(sum(when(col("gap").isNull, lit(L.toLong))
          .otherwise(least(col("gap"), lit(L.toLong))))
          .cast(LongType).as("dup_tokens"),
        sum(when(col("gap").isNull || col("gap") > L, 1L).otherwise(0L))
          .cast(LongType).as("n_spans"))
    docs.select("doc_id", "n_toks")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) /
          col("n_toks").cast(DoubleType)).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** D27b: the dedup ACTION for D27 — rewrite every document with its
    * duplicated spans removed (the corpus-rewriting step of Lee et al.
    * 2022, where D27 is the reporting step). Per doc the sorted
    * duplicated-window starts are collected (bounded by the doc's own
    * window count) and a codegen kernel ([[graft.functions.RemoveSpans]])
    * walks tokens once against the interval union. Shuffle profile =
    * D27's (hash groupBy + one doc_id exchange); the corpus text rides
    * the scan.
    */
  def dedupSubstringScrub(spark: SparkSession, dir: String,
      L: Int = SubstringL): DataFrame = {
    val wins = substringWins(spark, dir, L)
    val dupHashes = wins.groupBy("whash")
      .agg(count(lit(1)).as("sites"))
      .filter(col("sites") >= 2)
      .select("whash")
    val dupStarts = wins.join(dupHashes, Seq("whash"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("start"))).as("starts"))
    // n_removed = |union of [s, s+L) over sorted starts| via a fold:
    // the first window contributes L, each later one min(L, s - prev).
    // Counting removed POSITIONS (not re-splitting the scrubbed text)
    // keeps n_kept exact even when a kept token is the empty string
    // (a doc whose text is ""), where split-based counting under-counts.
    val Ll = lit(L.toLong)
    Tables.documents(spark, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<long>")))
      .withColumn("scrubbed", graft.functions.SpanScrubKernel.removeSpans(
        col("toks"), col("starts"), L))
      .withColumn("n_toks", size(col("toks")).cast(LongType))
      .withColumn("n_removed", aggregate(
        col("starts"),
        struct(lit(-1L).as("prev"), lit(0L).as("tot")),
        (acc, s) => struct(s.as("prev"),
          (acc("tot") + when(acc("prev") < lit(0L), Ll)
            .otherwise(least(Ll, s - acc("prev")))).as("tot")),
        acc => acc("tot")))
      .withColumn("n_kept", col("n_toks") - col("n_removed"))
      .select(col("doc_id"), col("n_toks"), col("n_kept"), col("n_removed"),
        col("scrubbed").as("scrubbed_text"))
      .orderBy("doc_id")
  }

  /** D4b: winnowing near-dup pairs — the MOSS-style member of the
    * candidate-generation family next to ngram (D2), MinHash (D3),
    * SimHash (D4) and substring (D27): docs sharing ≥ minShared winnow
    * fingerprints (the G5 kernel — position-robust local minima of a
    * rolling hash). The fingerprint itself is the blocking key
    * (explode + equi-join), so compare volume scales with fingerprint
    * co-occupancy, never all pairs; the exploded table is
    * session-memoized like every other signature derivation.
    */
  def dedupWinnow(spark: SparkSession, dir: String,
      minContainment: Double = 0.5): DataFrame = {
    // the raw exploded table is memoized on its own: the rare-filter
    // below reads it twice (df groupBy + join) and an unpersisted
    // kernel would be re-derived per branch by the inferred
    // isnotnull(fp) constraints (the SURVEY §7 round-1 lesson)
    // INVERTED-LIST pair counting (replaces the r6 fp self-join): one
    // groupBy(fp) builds each rare fingerprint's doc-sorted posting
    // list, ordered pairs (a < b by construction — explode the sorted
    // list once with position, then its strict suffix) generate
    // IN-ROW with no join, and the pair-count aggregation is the
    // whole verify step. Versus the self-join this HALVES generated
    // rows (sum C(df,2), never both orders), drops one corpus-wide
    // exchange (no probe side), and needs no distinct-then-intersect
    // stage. A prefix/banded pre-block was built and measured first:
    // at this corpus's fp density (6.4k distinct fps, mean rare df
    // ~27 at sf0.1) junk pairs share exactly one fp, so blocking cut
    // generation ~2x but forced a 3.6M-pair distinct + per-pair
    // intersect verify that cost MORE than counting — the
    // count-by-construction flow won the measurement (PLANS_r7).
    val inv = winnowInv(spark, dir)
    val pairs = inv.filter(col("df") >= 2)
      .select(col("docs"), posexplode(col("docs")).as(Seq("i", "a_id")))
      .select(col("a_id"), explode(slice(col("docs"), col("i") + lit(2),
        size(col("docs")) - col("i") - lit(1))).as("b_id"))
    val nf = winnowNf(spark, dir)
    // the nf sides are |docs| rows — AQE broadcasts them at bench SF;
    // at cluster scale they key-join the already-shuffled pair table
    pairs.groupBy("a_id", "b_id").agg(lcount.as("shared_fp"))
      .join(nf.select(col("doc_id").as("a_id"), col("n_fp").as("n_a")), "a_id")
      .join(nf.select(col("doc_id").as("b_id"), col("n_fp").as("n_b")), "b_id")
      // containment (shared / smaller fingerprint set) rather than a raw
      // count: common 8-char windows make absolute counts meaningless
      .withColumn("containment", col("shared_fp").cast(DoubleType) /
        least(col("n_a"), col("n_b")).cast(DoubleType))
      .filter(col("containment") >= minContainment)
      .select("a_id", "b_id", "shared_fp", "containment")
      .orderBy("a_id", "b_id")
  }

  /** Rare-fingerprint inverted lists (fp → doc-sorted posting list +
    * df), session-memoized — the layout [[dedupWinnow]] generates
    * pairs from. The kernel output is read exactly once (no raw-table
    * memo needed any more).
    *
    * Ubiquity cap (standard winnowing practice, and the pair-cost
    * bound): a fingerprint present in > 5% of docs carries no
    * near-dup signal but quadratic pair cost. The containment is
    * measured over the RARE fingerprint space on BOTH sides —
    * numerator and denominator drop ubiquitous fps together, so the
    * ratio stays calibrated. Part of the operator's defined
    * semantics; the oracle applies the same cap.
    * max(1, ...): integer division would make the cap 0 for corpora
    * under 20 docs and silently filter EVERY fingerprint.
    *
    * The relative leg alone is NOT a pair-cost bound: it GROWS with
    * the corpus, so scaling up ADMITS boilerplate fingerprints a
    * smaller corpus rejected, and Σ C(df,2) pair generation turns
    * superlinear even at constant duplicate density — measured by the
    * r9 scale amplifier (the ×30 corpus lifted the cap 250 →
    * 7500 and pair spill filled the disk). [[WinnowDfCap]] closes it:
    * df ≤ min(nDocs/20, cap) bounds per-fingerprint cost at
    * C(cap, 2) at ANY corpus size, making total pair cost linear in
    * the number of distinct fingerprints.
    */
  private def winnowInv(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"winnowInv:$dir") {
      val nDocs = Tables.documents(spark, dir).count()
      Tables.documents(spark, dir)
        .withColumn("fps", TextFns.winnowFingerprints(col("text"), 8, 4))
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .groupBy("fp")
        .agg(sort_array(collect_list(col("doc_id"))).as("docs"),
          lcount.as("df"))
        .filter(col("df") <= math.max(1L, math.min(nDocs / 20, WinnowDfCap)))
    }

  /** Absolute ceiling on a winnow fingerprint's document frequency —
    * the ABSOLUTE leg of [[winnowInv]]'s ubiquity cap (the relative
    * leg, nDocs/20, governs below 20·cap docs; this governs above).
    * A fingerprint shared by >250 documents is boilerplate at any
    * corpus size; 250 = the relative cap's value at the largest test
    * SF, so every oracle-checked result is unchanged by the bound.
    */
  val WinnowDfCap = 250L

  /** Per-doc rare-fingerprint counts (the containment denominators),
    * rolled up from the inverted lists — no second kernel pass.
    */
  private def winnowNf(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"winnowNf:$dir") {
      winnowInv(spark, dir).select(explode(col("docs")).as("doc_id"))
        .groupBy("doc_id").agg(lcount.as("n_fp"))
    }

  /** Test hook: the r6 formulation of [[dedupWinnow]] (full fp
    * equi-join + pair groupBy) built standalone — the spec asserts the
    * inverted-list flow reproduces it row-for-row.
    */
  private[graft] def dedupWinnowUnblocked(spark: SparkSession, dir: String,
      minContainment: Double = 0.5): DataFrame = {
    val nDocs = Tables.documents(spark, dir).count()
    val ex = Tables.documents(spark, dir)
      .withColumn("fps", TextFns.winnowFingerprints(col("text"), 8, 4))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .persist()
    val rare = ex.groupBy("fp").agg(lcount.as("df"))
      .filter(col("df") <= math.max(1L, math.min(nDocs / 20, WinnowDfCap)))
      .select("fp")
    val filtered = ex.join(rare, "fp").select("doc_id", "fp")
    val nf = filtered.groupBy("doc_id").agg(lcount.as("n_fp"))
    val fps = filtered.join(nf, "doc_id")
    val a = fps.select(col("doc_id").as("a_id"), col("n_fp").as("n_a"), col("fp"))
    val b = fps.select(col("doc_id").as("b_id"), col("n_fp").as("n_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "n_a", "n_b").agg(lcount.as("shared_fp"))
      .withColumn("containment", col("shared_fp").cast(DoubleType) /
        least(col("n_a"), col("n_b")).cast(DoubleType))
      .filter(col("containment") >= minContainment)
      .select("a_id", "b_id", "shared_fp", "containment")
      .orderBy("a_id", "b_id")
  }

  /** D1b: per-source duplication profile — the crawl-health signal a
    * curation policy acts on first ("which source is spamming us"):
    * doc count, distinct texts, and the duplicated fraction per
    * source. One partial-agg shuffle keyed by source (the checksum
    * distinct rides the same exchange); |sources| output rows at any
    * corpus size.
    */
  def sourceDupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("ck"))
      .groupBy(col("source"))
      .agg(lcount.as("n_docs"),
        countDistinct(col("ck")).cast(LongType).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("dup_frac"))
      .orderBy("source")

  /** D12b: embedding near-dup clusters — the same generic CC engine
    * D13 uses, over D12's cosine graph (vertices = every embedding,
    * edges = verified cosine ≥ τ pairs). The semantic-dedup
    * counterpart of token-level clustering: transitive closure groups
    * paraphrase chains a pairwise threshold alone would split.
    */
  def dedupEmbeddingClusters(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"embCcLabels:$dir") {
      connectedComponents(spark,
        dedupEmbedding(spark, dir).select(col("a_id"), col("b_id")),
        Tables.embeddings(spark, dir).select(col("vec_id")), "vec_id")
    }.orderBy("vec_id")

  /** D12: embedding-cosine near-dup — candidates blocked by shared
    * 8-plane LSH bucket, verified with exact cosine ≥ threshold.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Memo.df(spark, s"embBuckets6:$dir") {
      Tables.embeddings(spark, dir)
        .withColumn("v", VectorFns.toDouble(col("embedding")))
        .withColumn("nrm", VectorFns.norm(col("v")))
        .withColumn("bucket", VectorFns.hyperplaneBucket(col("v"), 6))
        .select("vec_id", "v", "nrm", "bucket")
    }
    val a = emb.select(col("bucket").as("bk_a"), col("vec_id").as("a_id"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = emb.select(col("bucket").as("bk_b"), col("vec_id").as("b_id"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, col("bk_a") === col("bk_b") && col("a_id") < col("b_id"))
      .withColumn("cos",
        VectorFns.cosine(col("v_a"), col("v_b"), col("n_a"), col("n_b")))
      .filter(col("cos") >= 0.35)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** D48's line width in tokens (shared with the oracle builder). */
  private[graft] val LineTok = 10

  /** D48: C4-style global line-level dedup. The corpus text carries no
    * newlines, so a "line" is each consecutive [[LineTok]]-token window
    * (deterministic re-lining — the same synthesized-fixture device as
    * D18's PII lines). An occurrence (doc_id, line_no) survives iff it
    * is the FIRST occurrence of that exact line text corpus-wide
    * (ordered by doc_id, then line_no) — later copies, within or
    * across documents, are dropped, exactly the C4 recipe of removing
    * every repeated three-sentence span but at line granularity.
    *
    * Scale: one shuffle keyed on the 16-byte line digest (not the line
    * text — bounded shuffle width), min(struct(doc_id,line_no)) is an
    * order-independent partial aggregate so boilerplate hot lines
    * combine map-side; reassembly is a doc_id-keyed sort-free
    * collect_list + array_sort, O(lines-per-doc) memory per key.
    * Output: per-doc line counts + an md5 of the deduped text, pinning
    * the reassembled survivor bytes against the oracle.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    dedupLinesOn(Tables.documents(spark, dir))

  /** The deterministic re-lining shared by the batch operator, its
    * oracle constant, and the E33 streaming face (one definition, so
    * batch and stream cannot drift): every non-`text` column passes
    * through, joined by (line_no, line, h=md5(line)).
    */
  private[graft] def lineFrame(docs: DataFrame): DataFrame = {
    val keep = docs.columns.filterNot(_ == "text").map(col).toSeq
    docs
      .withColumn("toks", TextFns.tokens(col("text")))
      .select(keep :+ posexplode(transform(
        sequence(lit(0), floor((size(col("toks")) - 1) / lit(LineTok)).cast("int")),
        i => concat_ws(" ", slice(col("toks"), i * LineTok + 1, lit(LineTok)))))
        .as(Seq("line_no", "line")): _*)
      .withColumn("h", md5(col("line")))
  }

  /** Distinct line digests of the standing corpus (docs OUTSIDE the
    * doc_id % 10 = 7 incoming partition — the E15 split) — the
    * stream-static anti-join side of E33, memoized per session like
    * the band-signature index.
    */
  private[graft] def corpusLineDigests(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"corpusLineDigests:$dir") {
      lineFrame(Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 =!= 7)
        .select("doc_id", "text"))
        .select("h").distinct()
    }

  /** [[dedupLines]] over an arbitrary (doc_id, text) frame — the API
    * face a caller cleaning their own corpus snapshot composes.
    */
  private[graft] def dedupLinesOn(docs: DataFrame): DataFrame = {
    val lines = lineFrame(docs.select(col("doc_id"), col("text")))
    val firsts = lines
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("first"))
      .select(col("h"), col("first.doc_id").as("f_doc"),
        col("first.line_no").as("f_line"))
    lines.join(firsts, "h")
      .withColumn("kept", col("doc_id") === col("f_doc") &&
        col("line_no") === col("f_line"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(LongType).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast(LongType).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
          when(col("kept"), struct(col("line_no"), col("line"))))),
          s => s.getField("line")), " ")).as("clean_md5"))
      .withColumn("n_dropped", (col("n_lines") - col("n_kept")).cast(LongType))
      .select("doc_id", "n_lines", "n_kept", "n_dropped", "clean_md5")
      .orderBy("doc_id")
  }
}
