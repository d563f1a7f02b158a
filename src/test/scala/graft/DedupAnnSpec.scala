package graft

import graft.operators.{AnnOps, DedupOps, TextOps}
import graft.operators.AnnOps.SessionIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupAnnSpec extends GraftSpec {

  test("dedup_exact preserves total docs across groups") {
    val df = DedupOps.dedupExact(spark, Sf)
    val total = df.agg(sum("dup_cnt")).head.getLong(0)
    assert(total == Tables.documents(spark, Sf).count())
  }

  test("minhash estimate tracks exact jaccard on shared pairs") {
    val est = DedupOps.dedupMinhashLsh(spark, Sf)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
    val exact = DedupOps.dedupNgramJaccard(spark, Sf)
      .select(col("a_id"), col("b_id"), col("jacc"))
    val joined = est.join(exact, Seq("a_id", "b_id")).collect()
    joined.foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      val x = r.getAs[Double]("jacc")
      assert(math.abs(e - x) < 0.35, s"est $e vs exact $x")
    }
  }

  test("dedup_substring: exact-dup docs are fully covered, invariants hold") {
    val sub = DedupOps.dedupSubstring(spark, Sf)
    assert(sub.count() == Tables.documents(spark, Sf).count())
    sub.collect().foreach { r =>
      val n = r.getAs[Long]("n_toks")
      val dt = r.getAs[Long]("dup_tokens")
      val ns = r.getAs[Long]("n_spans")
      val f = r.getAs[Double]("dup_frac")
      assert(dt <= n && ns <= dt && f >= 0.0 && f <= 1.0)
      assert((ns == 0) == (dt == 0))
    }
    // a doc sharing its FULL text with another doc shares all its
    // L-token windows, so every token sits in a duplicated span —
    // construct that fixture (the sf0.001 corpus has no organic
    // full-text dups): clone one >=8-token doc under a fresh doc_id
    // and run the span merge over the widened corpus
    val base = Tables.documents(spark, Sf).select("doc_id", "text")
    val donor = base.filter(size(split(col("text"), " ")) >= 8)
      .orderBy("doc_id").limit(1)
    val cloneId = 999999901L
    val widened = base.unionByName(
      donor.select(lit(cloneId).as("doc_id"), col("text")))
    val subW = DedupOps.dedupSubstringOn(widened)
    val donorId = donor.head.getAs[Long]("doc_id")
    val full = subW.filter(col("doc_id").isin(donorId, cloneId)).collect()
    assert(full.length == 2, s"fixture pair missing: ${full.toSeq}")
    full.foreach(r => assert(r.getAs[Double]("dup_frac") == 1.0,
      s"doc ${r.getAs[Long]("doc_id")} frac ${r.getAs[Double]("dup_frac")}"))
  }

  test("dedup_substring_scrub removes exactly the duplicated-span tokens") {
    val sub = DedupOps.dedupSubstring(spark, Sf)
      .select(col("doc_id"), col("n_toks"), col("dup_tokens"))
    val scrub = DedupOps.dedupSubstringScrub(spark, Sf)
    val j = scrub.join(sub, Seq("doc_id")).collect()
    assert(j.length == Tables.documents(spark, Sf).count())
    j.foreach { r =>
      assert(r.getAs[Long]("n_removed") == r.getAs[Long]("dup_tokens"),
        s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("n_kept") ==
        r.getAs[Long]("n_toks") - r.getAs[Long]("dup_tokens"))
      // the scrubbed text's token count matches n_kept
      val txt = r.getAs[String]("scrubbed_text")
      val nTok = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(nTok == r.getAs[Long]("n_kept"))
    }
  }

  test("dedup_substring kernel == interpreted HOF window hashes") {
    import graft.functions.{StrHash, WindowHashKernel}
    val docs = Tables.documents(spark, Sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .limit(50)
    val kernel = docs.select(col("doc_id"),
      WindowHashKernel.windowHashes(col("toks"), 8).as("wh"))
    val hof = docs.select(col("doc_id"), transform(
      sequence(lit(0), (size(col("toks")) - 8).cast("int")),
      i => StrHash.strhash64(concat_ws(" ", slice(col("toks"), i + 1, lit(8))))
    ).as("wh"))
    val k = kernel.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    val h = hof.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(k == h)
  }

  test("winnow pairs: containment bounded, shared never exceeds a doc's fp count") {
    val fp = TextOps.fingerprint(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_fp")).toMap
    DedupOps.dedupWinnow(spark, Sf).collect().foreach { r =>
      val c = r.getAs[Double]("containment")
      assert(c >= 0.5 && c <= 1.0 + 1e-9)
      val shared = r.getAs[Long]("shared_fp")
      assert(shared <= math.min(fp(r.getAs[Long]("a_id")), fp(r.getAs[Long]("b_id"))))
    }
  }

  test("winnow inverted-list flow is EXACT: == the classic fp self-join") {
    // the inverted-list formulation (DedupOps.dedupWinnow) generates
    // each unordered co-occupancy pair exactly once from the sorted
    // posting list, so its pair counts must equal the r6 self-join's —
    // asserted row-for-row
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("shared_fp"), r.getAs[Double]("containment"))
    val inverted = DedupOps.dedupWinnow(spark, Sf).collect().map(key).toSet
    val selfJoin = DedupOps.dedupWinnowUnblocked(spark, Sf).collect().map(key).toSet
    assert(inverted == selfJoin,
      s"inverted-list flow diverged: only-inv=${inverted.diff(selfJoin).take(3)} " +
      s"only-join=${selfJoin.diff(inverted).take(3)}")
  }

  test("simhash pairs respect the hamming bound") {
    DedupOps.dedupSimhash(spark, Sf).collect().foreach { r =>
      assert(r.getAs[Long]("hamming") <= 3)
    }
  }

  test("lsh ann is a subset of brute force sims") {
    val bf = AnnOps.annCosineTopK(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim").as("bf_sim"))
    // lsh pair sims must equal the exact sim for that pair (no approximation
    // in the distance itself, only in candidate generation)
    val lsh = AnnOps.annLsh(spark, Sf).select("q_id", "c_id", "sim")
    val j = lsh.join(bf, Seq("q_id", "c_id")).collect()
    j.foreach(r => assert(r.getAs[Double]("sim") == r.getAs[Double]("bf_sim")))
  }

  test("lsh ann achieves nonzero recall at the smallest sf") {
    val bf = AnnOps.annCosineTopK(spark, Sf).select("q_id", "c_id")
    val lsh = AnnOps.annLsh(spark, Sf).select("q_id", "c_id")
    val hit = lsh.join(bf, Seq("q_id", "c_id")).count()
    assert(hit > 0, "LSH found none of the true top-10")
  }

  test("ivf ann: exact sims for found pairs, and measurable recall") {
    val bf = AnnOps.annCosineTopK(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim").as("bf_sim"))
    val ivf = AnnOps.annIvf(spark, Sf).select("q_id", "c_id", "sim")
    val j = ivf.join(bf, Seq("q_id", "c_id")).collect()
    // IVF approximates candidate generation, never the distance
    j.foreach(r => assert(r.getAs[Double]("sim") == r.getAs[Double]("bf_sim")))
    val nQueries = bf.select("q_id").distinct().count()
    val recall = j.length.toDouble / (nQueries * 10.0)
    assert(recall >= 0.3, s"IVF recall@10 too low: $recall")
  }

  test("star CC == propagation CC on the real near-dup graph; converges on a 400-hop chain") {
    import spark.implicits._
    val rows = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(rows(operators.DedupOps.dedupClustersStar(spark, Sf)) ==
      rows(operators.DedupOps.dedupClusters(spark, Sf)))
    // the diameter case propagation cannot survive: a 401-vertex path
    // needs 400 propagation rounds, star rounds HALVE path lengths —
    // 15 rounds must fully converge it to component 0
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("a", "b")
    val verts = (0L to 400L).toDF("v")
    val labs = operators.DedupOps.connectedComponentsStar(
      spark, chain, verts, "v", maxRounds = 15).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(labs.length == 401)
    labs.foreach { case (_, comp, sz) =>
      assert(comp == 0L, s"chain not fully merged: component $comp")
      assert(sz == 401L)
    }
  }

  test("sq8: codes in [0,255], midpoint reconstruction within delta/512 per dim") {
    val (mn, delta) = AnnOps.sq8Model(spark, Sf)
    assert(mn.size == delta.size && delta.forall(_ >= 0.0))
    val codes = AnnOps.sq8Codes(spark, Sf).collect()
    val raw = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val cs = r.getSeq[Long](1)
      assert(cs.size == mn.size)
      assert(cs.forall(c => c >= 0L && c <= 255L))
      val v = raw(r.getLong(0))
      // midpoint dequant: the quantization cell is delta/256 wide, so
      // |v − deq| ≤ delta/512 (+1 ulp slack for the clamped top cell)
      cs.indices.foreach { d =>
        val deq = mn(d) + (cs(d) + 0.5) * delta(d) / 256.0
        assert(math.abs(v(d) - deq) <= delta(d) / 512.0 * (1 + 1e-9) + 1e-12,
          s"dim $d: v=${v(d)} deq=$deq delta=${delta(d)}")
      }
    }
  }

  test("sq8 adc + rerank: recall@10 vs exact stays near-lossless; rerank sims exact") {
    val bf = AnnOps.annCosineTopK(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim").as("bf_sim"))
    val nQueries = bf.select("q_id").distinct().count()
    val adcHits = AnnOps.annSq8Adc(spark, Sf).select("q_id", "c_id")
      .join(bf, Seq("q_id", "c_id")).count()
    assert(adcHits.toDouble / (nQueries * 10.0) >= 0.95,
      s"SQ8 ADC recall@10 dropped: ${adcHits.toDouble / (nQueries * 10)}")
    val rr = AnnOps.annSq8Rerank(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim"))
      .join(bf, Seq("q_id", "c_id")).collect()
    // the re-rank stage must use EXACT cosine (same doubles as D9)
    rr.foreach(r =>
      assert(r.getAs[Double]("sim") == r.getAs[Double]("bf_sim")))
    assert(rr.length.toDouble / (nQueries * 10.0) >= 0.98,
      s"SQ8 rerank recall@10 dropped: ${rr.length.toDouble / (nQueries * 10)}")
  }

  test("ivfsq: exact rerank sims, recall tracks IVF-Flat at the same nprobe") {
    val bf = AnnOps.annCosineTopK(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim").as("bf_sim"))
    val nQueries = bf.select("q_id").distinct().count()
    val isq = AnnOps.annIvfSq(spark, Sf).select("q_id", "c_id", "sim")
    val j = isq.join(bf, Seq("q_id", "c_id")).collect()
    j.foreach(r => assert(r.getAs[Double]("sim") == r.getAs[Double]("bf_sim")))
    val ivfHits = AnnOps.annIvf(spark, Sf).select("q_id", "c_id")
      .join(bf, Seq("q_id", "c_id")).count()
    // the byte code's near-lossless fidelity (sq8_adc recall 1.0 in
    // the curve) means the composed index may lose at most a whisker
    // to IVF-Flat's exact scan of the same probed lists
    assert(j.length >= ivfHits - 2,
      s"IVF-SQ recall fell below IVF-Flat: ${j.length} vs $ivfHits of ${nQueries * 10}")
  }

  test("ivfsq table serving: search over the persisted coded lists == session annIvfSq bit-for-bit") {
    val m = AnnOps.DefaultM
    val table = sources.LayoutStore.tableName(s"test_scale_ivfsq_m$m", Sf)
    sources.LayoutStore.purge(spark, table)
    try {
      sources.LayoutStore.ensure(spark, table, Seq("c_cid"), m)(
        AnnOps.sessionServing(spark, Sf, SessionIndex.Sq8).lists)
      val queries = Tables.embeddings(spark, Sf)
        .filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
      // persisted quantizer + SQ8 model tables, persisted coded lists
      val sv = operators.LayoutOps.servingOver(spark, Sf, table,
        AnnOps.IvfCodec.Sq8.tupled(AnnOps.sq8ModelOf(
          operators.LayoutOps.table(spark, Sf, "sq8_model"))))
      val served = AnnOps.ivfPqSearchTables(spark, Sf, sv, queries,
          nprobe = AnnOps.IvfSqNprobe, r = AnnOps.IvfSqR, excludeSelf = true)
        .collect().map(_.toString).toSeq.sorted
      // the search promises rows, not a row order: compare sorted
      val session = AnnOps.annIvfSq(spark, Sf).collect().map(_.toString).toSeq.sorted
      assert(served == session,
        "table-served IVF-SQ diverges from the session path")
      assert(served.nonEmpty, "degenerate fixture: no search results")
    } finally {
      sources.LayoutStore.purge(spark, table)
      operators.LayoutOps.purgeAll(spark, Sf)
    }
  }

  test("rp prefilter: exact rerank sims, JL recall floor, deterministic signs") {
    // the sign matrix is a pure function of the kernel — regenerating
    // it must be bit-identical (the oracle bakes these as literals)
    val s1 = AnnOps.rpSigns(); val s2 = AnnOps.rpSigns()
    assert(s1 == s2 && s1.length == AnnOps.RpK &&
      s1.head.length == AnnOps.RpDim)
    assert(s1.flatten.forall(x => x == 1.0 || x == -1.0))
    val bf = AnnOps.annCosineTopK(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim").as("bf_sim"))
    val nQueries = bf.select("q_id").distinct().count()
    val rp = AnnOps.annRpPrefilter(spark, Sf).select("q_id", "c_id", "sim")
    val j = rp.join(bf, Seq("q_id", "c_id")).collect()
    j.foreach(r => assert(r.getAs[Double]("sim") == r.getAs[Double]("bf_sim")))
    val recall = j.length.toDouble / (nQueries * 10.0)
    assert(recall >= 0.5, s"JL prefilter recall@10 collapsed: $recall")
  }

  test("ivf probe assignment: broadcast kernel == literal path at m=16 and m=256") {
    for (m <- Seq(16, 256); nprobe <- Seq(1, 4)) {
      val lit = AnnOps.assignForTest(spark, Sf, m, nprobe, kernel = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val ker = AnnOps.assignForTest(spark, Sf, m, nprobe, kernel = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(lit == ker, s"kernel/literal divergence at m=$m nprobe=$nprobe")
    }
  }

  test("ivf search at the default m=16 assigns probes with the broadcast kernel") {
    // one assignment path at every m: no literal-quantizer ranking
    // (array_sort over the centroids) is planned below a kernel cutoff
    val plan = AnnOps.annIvf(spark, Sf).queryExecution.executedPlan.toString
    assert(plan.contains("ivfassignexpr"), s"kernel not planned:\n$plan")
    assert(!plan.contains("array_sort"), s"literal ranking planned:\n$plan")
  }

  test("ivf at m=256: broadcast-kernel probe plan is shuffle-free, recall holds") {
    val probes = AnnOps.assignForTest(spark, Sf, 256, 4, kernel = true)
    val plan = probes.queryExecution.executedPlan.toString
    // Spark prints shuffles as plain "Exchange ..." — assert absence in
    // the QUERY-side plan, i.e. everything above the cached embDouble
    // relation (whose dump replays its one-time build exchange)
    val querySide = plan.split("InMemoryRelation")(0)
    assert(querySide.contains("InMemoryTableScan"), s"cache not used:\n$plan")
    assert(!querySide.contains("Exchange"),
      s"probe assignment shuffles:\n$plan")
    // kernel path: the IvfAssignExpr kernel, not the literal-quantizer
    // array_sort ranking
    assert(querySide.contains("ivfassignexpr"), s"kernel not planned:\n$plan")
    assert(!querySide.contains("array_sort"),
      s"expected the kernel path (no literal sort):\n$plan")
    val bf = AnnOps.annCosineTopK(spark, Sf)
      .select(col("q_id"), col("c_id"), col("sim").as("bf_sim"))
    val ivf = AnnOps.annIvfM(spark, Sf, 256, 64).select("q_id", "c_id", "sim")
    val j = ivf.join(bf, Seq("q_id", "c_id")).collect()
    j.foreach(r => assert(r.getAs[Double]("sim") == r.getAs[Double]("bf_sim")))
    val nQ = bf.select("q_id").distinct().count()
    val recall = j.length.toDouble / (nQ * 10.0)
    assert(recall >= 0.3, s"IVF m=256 recall@10 too low: $recall")
  }

  // clone the embedding of corpus vector 0 under a fresh id: its
  // assignment follows the existing quantizer and its codes equal
  // vector 0's, so a search FOR vector 0 must surface the clone at
  // sim == 1.0 — directly (Flat) or through the ADC shortlist and
  // the exact re-rank (SQ8, PQ, residual PQ); and the whole corpus,
  // encoded as a delta, must reproduce the session lists row for row
  // (the list build and the delta encode are one body)
  private def assertAppendSearchable(encodings: Seq[SessionIndex]): Unit = {
    val clone = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select("vec_id", "embedding")
    for (encoding <- encodings) {
      val sv = AnnOps.sessionServing(spark, Sf, encoding)
      val appended = sv.lists.unionByName(AnnOps.codedRowsFor(sv, clone))
      val widened = sv.copy(listsOf = () => appended)
      // q IS corpus vector 0, so exclude its own row (harness semantics);
      // the clone is no corpus member: it re-ranks from its in-row floats
      val hits = AnnOps.ivfPqSearchTables(spark, Sf, widened, q,
        excludeSelf = true).collect()
      val top = hits.minBy(_.getAs[Long]("rnk"))
      assert(top.getAs[Long]("c_id") == 999999L,
        s"$encoding: clone not found: ${hits.toSeq}")
      assert(top.getAs[Double]("sim") > 0.999999, s"$encoding: $top")
      // append, not rebuild: exactly one row wider than the base layout
      assert(widened.lists.count() == sv.lists.count() + 1, encoding)
      def rowSet(df: DataFrame): Seq[String] =
        df.select(sv.lists.columns.map(col).toSeq: _*).collect()
          .map(_.toString).toSeq.sorted
      val corpus = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
      assert(rowSet(AnnOps.codedRowsFor(sv, corpus)) == rowSet(sv.lists),
        s"$encoding: the corpus encoded as a delta differs from the session lists")
    }
  }

  test("ivf append: new vectors are searchable without a rebuild") {
    assertAppendSearchable(Seq(SessionIndex.Flat(), SessionIndex.Sq8))
  }

  test("ivfpq append: new vectors are searchable in the composed index without a rebuild") {
    assertAppendSearchable(Seq(SessionIndex.Pq, SessionIndex.PqRes()))
  }

  test("serving search: an external query id colliding with a corpus id drops nothing") {
    // external query reuses corpus vector 3's embedding under the
    // EXTERNAL id 3 — the serving path must still return corpus vector
    // 3 itself (sim == 1) as the top hit, not silently exclude it on
    // id equality (queries are not corpus members in serving)
    val q = graft.Tables.embeddings(spark, Sf).filter(col("vec_id") === 3)
      .select(lit(3L).as("vec_id"), col("embedding"))
    val hits = AnnOps.ivfPqSearch(spark, Sf, q).collect()
    val top = hits.minBy(_.getAs[Long]("rnk"))
    assert(top.getAs[Long]("c_id") == 3L,
      s"corpus vector with colliding id was dropped: ${hits.toSeq}")
    assert(top.getAs[Double]("sim") > 0.999999)
    // same contract over an IVF-Flat handle
    val fhits = AnnOps.ivfPqSearchTables(spark, Sf,
      AnnOps.sessionServing(spark, Sf, SessionIndex.Flat()), q, nprobe = 4).collect()
    val ftop = fhits.minBy(_.getAs[Long]("rnk"))
    assert(ftop.getAs[Long]("c_id") == 3L, s"ivf-flat dropped it: ${fhits.toSeq}")
  }

  test("residual ivfpq: ADC shortlist recall >= plain codes at equal budget") {
    // the point of residual encoding: codebooks describe within-cell
    // variation, so the compressed distances order candidates better.
    // Measure stage-1 (pre-rerank) shortlist recall@R vs the exact
    // top-R within the same probed candidates' universe — residual
    // must not be WORSE than plain at the same bit budget
    val exact = AnnOps.annCosineTopK(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("q_id"))
      val hits = byQ.map { case (q, rs) =>
        rs.count(r => exact(q)(r.getAs[Long]("c_id"))) }.sum
      hits.toDouble / (exact.size * 10)
    }
    val plain = recall(AnnOps.annIvfPq(spark, Sf).collect())
    val res = recall(AnnOps.annIvfPqRes(spark, Sf).collect())
    info(s"ivfpq recall@10 vs exact: plain=$plain residual=$res")
    // after the exact re-rank both paths should reach the probed
    // candidates' ceiling; residual must at least match
    assert(res >= plain - 1e-12,
      s"residual encoding lost recall: $res < $plain")
    // and a narrow-shortlist comparison exercises the ADC ordering
    // itself (R=10 means NO rerank slack: stage-1 order is the result)
    val plainNarrow = recall(AnnOps.annIvfPq(spark, Sf, r = 10).collect())
    val resNarrow = recall(AnnOps.annIvfPqRes(spark, Sf, r = 10).collect())
    info(s"ivfpq recall@10 at R=10 (pure ADC order): plain=$plainNarrow residual=$resNarrow")
    assert(resNarrow >= plainNarrow - 0.05,
      s"residual ADC ordering collapsed: $resNarrow vs $plainNarrow")
  }

  test("capped ngram join: high cap reproduces D2 exactly, low cap is a subset") {
    val full = DedupOps.dedupNgramJaccard(spark, Sf).collect().map(_.toString)
    val high = DedupOps.dedupNgramJaccardCapped(spark, Sf, maxDf = 1000000)
      .collect().map(_.toString)
    assert(full.toSeq == high.toSeq)
    val low = DedupOps.dedupNgramJaccardCapped(spark, Sf, maxDf = 2)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullPairs = DedupOps.dedupNgramJaccard(spark, Sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(low.subsetOf(fullPairs))
    assert(low.size < fullPairs.size)
  }

  test("minhash-lsh verified: subset of D2 at tau, recall >= 0.9 at tau=0.5") {
    val tau = 0.5
    val verified = DedupOps.dedupMinhashLshVerified(spark, Sf, tau)
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "jacc")
      .collect().map(_.toString).toSet
    val exact = DedupOps.dedupNgramJaccard(spark, Sf)
      .filter(col("jacc") >= tau)
      .select("a_id", "b_id", "n_a", "n_b", "inter_cnt", "jacc")
      .collect().map(_.toString).toSet
    // verification uses the true shingle sets, so every surviving row is
    // bit-identical to the corresponding D2 row
    assert(verified.subsetOf(exact),
      s"verified rows not contained in exact: ${verified.diff(exact).take(3)}")
    val recall = if (exact.isEmpty) 1.0 else verified.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall at tau=$tau too low: $recall")
  }

  test("dedup_prefix_filter: lossless vs brute force, with measured candidate reduction") {
    val tau = DedupOps.PrefixTau
    // brute force: shingle sets per doc (the D2 derivation in plain
    // Scala), ALL same-lang pairs scored, keep jacc >= tau
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
      .filter(_._3.length >= 3)
      .map { case (id, lang, toks) =>
        (id, lang, (0 to toks.length - 3)
          .map(i => toks.slice(i, i + 3).mkString(" ")).toSet)
      }
    val exp = (for {
      (a, la, sa) <- docs; (b, lb, sb) <- docs
      if a < b && la == lb
      inter = (sa & sb).size if inter >= 1
      jacc = inter.toDouble / (sa.size + sb.size - inter).toDouble
      if jacc >= tau
    } yield (a, b, sa.size.toLong, sb.size.toLong, inter.toLong, jacc))
      .sortBy(t => (t._1, t._2))
    val got = DedupOps.dedupPrefixFilter(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == exp.toSeq,
      "prefix-filtered join diverges from brute force")
    assert(got.nonEmpty, "degenerate fixture: no qualifying pairs")
    // the SHUFFLE verify arm (broadcastMax = 0 forces it) emits the
    // bit-identical rows — both arms satisfy the same oracle
    val shuffled = DedupOps.dedupPrefixFilter(spark, Sf, tau, broadcastMax = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(shuffled.toSeq == got.toSeq,
      "shuffle verify arm diverges from the broadcast arm")
    // the filter is not vacuous: candidates come from strictly fewer
    // indexed rows than the full blocked join would use
    val all = DedupOps.shinglesByKey(spark, Sf).count()
    val pref = DedupOps.prefixRows(spark, Sf, tau).count()
    assert(pref < all, s"prefix rows $pref not smaller than $all")
    assert(pref <= (all * (1 - tau)).toLong + docs.length,
      s"prefix rows $pref exceed the (1-tau) bound")
  }

  test("prefix-length bound: the exact integer predicate matches the rational lemma, including the multi-million-shingle regime") {
    // the lemma requires prefix length nsh − ⌈τ·nsh⌉_exact + 1 with
    // the ceiling of the TRUE rational product; evaluate the
    // operator's DEPLOYED predicate (DedupOps.prefixKeep — exact
    // integer comparison, no float ceil, no epsilon) over small sizes
    // exhaustively AND sizes in the 1e7 range, where an absolute-1e-9
    // epsilon'd double ceil provably fails (the ulp of nsh·τ exceeds
    // 1e-9 above ~4e6 — the ADVICE r11 finding), and pin it against
    // exact BigInt arithmetic.
    import spark.implicits._
    val small = (1L to 400L)
    val big = (9999990L to 10000010L) ++ Seq(3999999L, 4000001L,
      6666667L, 7777777L, 12345679L)
    val sizes = (small ++ big).toSeq
    val nshs = sizes.toDF("nsh")
    // exactly-representable taus (den | 10^6): the predicate must
    // EQUAL the lemma — neither under-run (recall) nor overshoot
    // (wasted candidates)
    for ((num, den) <- Seq((1L, 2L), (3L, 10L), (7L, 10L), (9L, 10L),
        (4L, 5L), (13L, 20L), (333333L, 1000000L), (999999L, 1000000L))) {
      val tau = num.toDouble / den
      val got = nshs
        .withColumn("rn", explode(sequence(lit(1L), least(col("nsh"), lit(500L)))))
        .filter(graft.operators.DedupOps.prefixKeep(col("rn"), col("nsh"), tau))
        .groupBy("nsh").agg(max("rn").as("len"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      sizes.foreach { nsh =>
        val ceilExact = ((BigInt(nsh) * num + den - 1) / den).toLong
        val need = math.min(nsh - ceilExact + 1, math.min(nsh, 500L))
        if (need >= 1L)
          assert(got.getOrElse(nsh, 0L) == need,
            s"nsh=$nsh tau=$num/$den: prefix ${got.getOrElse(nsh, 0L)} != lemma $need")
        else
          assert(!got.contains(nsh),
            s"nsh=$nsh tau=$num/$den: lemma admits no prefix but predicate kept rows")
      }
    }
    // taus needing > 6 decimal digits (1/3, 2/3) truncate DOWN to
    // num/1e6: never shorter than the true lemma (recall-safe), and
    // longer by at most nsh·(τ − num/den) + 1 ≤ nsh·1e-6 + 1
    for ((num, den) <- Seq((1L, 3L), (2L, 3L))) {
      val tau = num.toDouble / den
      val got = nshs
        .withColumn("rn", explode(sequence(lit(1L), least(col("nsh"), lit(500L)))))
        .filter(graft.operators.DedupOps.prefixKeep(col("rn"), col("nsh"), tau))
        .groupBy("nsh").agg(max("rn").as("len"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      sizes.foreach { nsh =>
        val ceilExact = ((BigInt(nsh) * num + den - 1) / den).toLong
        val cap = math.min(nsh, 500L)
        val need = math.min(nsh - ceilExact + 1, cap)
        val g = got.getOrElse(nsh, 0L)
        assert(need < 1L || g >= need,
          s"nsh=$nsh tau=$num/$den: prefix $g under-runs lemma $need")
        assert(g <= math.min(need.max(0L) + nsh / 1000000L + 1L, cap),
          s"nsh=$nsh tau=$num/$den: truncation overshoot $g beyond bound")
      }
    }
  }

  test("dedup_prefix_filter adaptive verify: dup-heavy corpus overflows a corpus-sized broadcast cap, arms stay bit-identical") {
    // dup-heavy fixture (the boilerplate-crawl regime the adaptive arm
    // exists for): 40 clusters × 4 docs differing only in their last
    // token — every in-cluster pair is a real near-dup, so candidate
    // PAIRS exceed the document count, the overload signature under
    // which an unconditional broadcast would kill the driver at scale
    val d = java.nio.file.Files.createTempDirectory("prefix_dupheavy")
      .toFile.getAbsolutePath
    val rows = for { c <- 0 until 40; j <- 0 until 4 } yield {
      val toks = (0 until 12).map(t => s"w${c}x$t").updated(11, s"v${c}x$j")
      val text = toks.mkString(" ")
      (c * 4L + j, text, "en", "web", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    try {
      val tau = DedupOps.PrefixTau
      val nDocs = rows.size.toLong
      val cand = DedupOps.prefixCandidates(spark, d, tau).count()
      assert(cand > nDocs,
        s"fixture not dup-heavy: $cand candidate pairs for $nDocs docs")
      // a corpus-sized cap therefore routes to the shuffle arm; the
      // default (clean-corpus) cap keeps the broadcast arm — and both
      // emit the identical rows
      def run(cap: Long) =
        DedupOps.dedupPrefixFilter(spark, d, tau, broadcastMax = cap)
          .collect().map(_.toString).toSeq
      val viaShuffle = run(nDocs)
      val viaBroadcast = run(DedupOps.CandBroadcastMax)
      assert(viaShuffle.nonEmpty, "dup-heavy fixture flagged no pairs")
      assert(viaShuffle == viaBroadcast,
        "verify arms diverge on the dup-heavy corpus")
      // every in-cluster pair qualifies (9 of 10 shingles shared,
      // J = 9/11 at tau 0.5): 40·C(4,2)
      assert(viaShuffle.size == 40 * 6,
        s"expected 240 in-cluster pairs, got ${viaShuffle.size}")
    } finally Memo.invalidate(spark, d)
  }

  test("dedup_recall: truth matches the lossless join, measured+expected recall monotone, one chosen geometry") {
    val rows = DedupOps.dedupRecall(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(rows.map(t => (t._1.toInt, t._2.toInt)).toSeq ==
      DedupOps.RecallGeoms.sortBy(_._1),
      "one row per geometry, ordered by band count")
    val nTrue = DedupOps.dedupPrefixFilter(spark, Sf).count()
    assert(rows.forall(_._3 == nTrue), "n_true must equal the D71 truth")
    assert(nTrue > 0, "degenerate fixture: no true pairs")
    rows.foreach { case (b, r, t, h, rec, exp, _) =>
      assert(h <= t, s"hits $h exceed truth $t at ${b}x$r")
      assert(rec == h.toDouble / t.toDouble)
      assert(exp >= 0.0 && exp <= 1.0, s"S-curve expectation $exp off range")
    }
    // geometries nest (64 = 4·16): candidates are containment-ordered,
    // so MEASURED recall must be monotone non-decreasing in the band
    // count — and the ANALYTIC S-curve expectation must agree on the
    // ordering (more bands of fewer rows always raises P(candidate))
    val byBands = rows.sortBy(_._1)
    val recalls = byBands.map(_._5)
    assert(recalls.zip(recalls.tail).forall { case (lo, hi) => lo <= hi },
      s"recall not monotone in bands: ${recalls.mkString(", ")}")
    val expected = byBands.map(_._6)
    assert(expected.zip(expected.tail).forall { case (lo, hi) => lo <= hi },
      s"expected recall not monotone: ${expected.mkString(", ")}")
    // the default geometry (8×8) carries the D3 pipeline: pin its floor
    val def88 = rows.find(t => t._1 == 8 && t._2 == 8).get._5
    assert(def88 >= 0.9, s"default-geometry LSH recall fell to $def88")
    // the tuner picks EXACTLY the fewest-bands geometry meeting the
    // target (candidate volume grows with bands, so fewest wins)
    val qualifying = byBands.filter(_._6 >= DedupOps.TuneTarget)
    val chosen = rows.filter(_._7)
    if (qualifying.nonEmpty) {
      assert(chosen.length == 1, s"expected one chosen row, got ${chosen.length}")
      assert(chosen.head._1 == qualifying.map(_._1).min,
        "chosen geometry is not the fewest-bands qualifier")
    } else assert(chosen.isEmpty, "nothing qualifies yet a row is chosen")
  }

  test("dedup_recall_simhash: threshold curve monotone, deployed row == pipeline ∩ truth, tuner picks smallest qualifier; blocking is pigeonhole-lossless") {
    val rows = DedupOps.dedupRecallSimhash(spark, Sf).collect()
      .map(r => (r.getAs[Long]("max_hamming"), r.getAs[Long]("n_bands"),
        r.getAs[Long]("n_true"), r.getAs[Long]("hits"),
        r.getAs[Double]("recall"), r.getAs[Boolean]("chosen")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      DedupOps.SimhashSweepHammings.map(_.toLong))
    // pigeonhole geometry rides each row: h flips need h+1 bands
    rows.foreach(r => assert(r._2 == r._1 + 1))
    // recall is monotone non-decreasing in the threshold (hamming <= h
    // sets are nested)
    val recalls = rows.map(_._5)
    assert(recalls.zip(recalls.tail).forall { case (lo, hi) => lo <= hi },
      s"recall not monotone in hamming: ${recalls.mkString(", ")}")
    // tuner: exactly one chosen = the smallest qualifying threshold
    val qualifying = rows.filter(_._5 >= DedupOps.TuneTarget)
    val chosen = rows.filter(_._6)
    if (qualifying.nonEmpty) {
      assert(chosen.length == 1)
      assert(chosen.head._1 == qualifying.map(_._1).min,
        "chosen is not the smallest qualifying threshold")
    } else assert(chosen.isEmpty)
    val truth = DedupOps.dedupPrefixFilter(spark, Sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = DedupOps.dedupSimhash(spark, Sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the deployed-threshold row equals the FULL banded pipeline's
    // hits — verifying the curve's in-row hamming shortcut against the
    // real candidate join it stands in for
    val deployed = rows.find(_._1 == DedupOps.SimhashMaxHamming.toLong).get
    assert(deployed._3 == truth.size.toLong)
    assert(deployed._4 == (sim intersect truth).size.toLong,
      "deployed-threshold hits must be the simhash-candidate ∩ truth intersection")
    assert(deployed._5 == deployed._4.toDouble / deployed._3)
    // pigeonhole losslessness of the BLOCKING: every doc pair within
    // the hamming threshold (computed brute-force over all signatures)
    // is proposed by the band join — so the recall row measures the
    // FINGERPRINT's fidelity, never a blocking miss
    val sigs = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        graft.functions.SimHash.simhash64(
          graft.functions.TextFns.tokens(col("text"))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= DedupOps.SimhashMaxHamming
    } yield (a, b)).toSet
    assert(brute == sim,
      s"banded candidates ${sim.size} != brute-force hamming pairs ${brute.size}")
  }

  test("dedup_containment equals brute force; containment dominates jaccard") {
    val tau = DedupOps.ContainTau
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
      .filter(_._3.length >= 3)
      .map { case (id, lang, toks) =>
        (id, lang, (0 to toks.length - 3)
          .map(i => toks.slice(i, i + 3).mkString(" ")).toSet)
      }
    val exp = (for {
      (a, la, sa) <- docs; (b, lb, sb) <- docs
      if a < b && la == lb
      inter = (sa & sb).size if inter >= 2
      cont = inter.toDouble / math.min(sa.size, sb.size).toDouble
      if cont >= tau
    } yield (a, b, sa.size.toLong, sb.size.toLong, inter.toLong, cont))
      .sortBy(t => (t._1, t._2))
    val got = DedupOps.dedupContainment(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == exp.toSeq,
      "containment join diverges from brute force")
    assert(got.nonEmpty, "degenerate fixture: no contained pairs")
    // containment >= jaccard on every pair (equality iff equal sizes):
    // the asymmetric metric can only widen the detector
    got.foreach { case (_, _, na, nb, inter, cont) =>
      val jacc = inter.toDouble / (na + nb - inter).toDouble
      assert(cont >= jacc && cont <= 1.0 + 1e-12)
    }
  }

  test("ann_probe_tuner: rides the D10e curve, exactly one chosen per qualifying method, smallest qualifying nprobe") {
    val curve = AnnOps.annRecall(spark, Sf).collect()
      .filter(r => AnnOps.ProbeTuneMethods.contains(r.getAs[String]("method")))
    val rows = AnnOps.annProbeTuner(spark, Sf).collect()
    // the tuner is a VIEW over the curve: same rows, same recalls
    assert(rows.length == curve.length)
    rows.foreach { t =>
      val c = curve.find(r => r.getAs[String]("method") == t.getAs[String]("method") &&
        r.getAs[Long]("param") == t.getAs[Long]("param")).get
      assert(t.getAs[Double]("recall") == c.getAs[Double]("recall"))
    }
    AnnOps.ProbeTuneMethods.foreach { m =>
      val mr = rows.filter(_.getAs[String]("method") == m)
        .sortBy(_.getAs[Long]("param"))
      val qualifying = mr.filter(_.getAs[Double]("recall") >= AnnOps.ProbeTuneTarget)
      val chosen = mr.filter(_.getAs[Boolean]("chosen"))
      if (qualifying.nonEmpty) {
        assert(chosen.length == 1, s"$m: expected exactly one chosen")
        assert(chosen.head.getAs[Long]("param") ==
          qualifying.map(_.getAs[Long]("param")).min,
          s"$m: chosen is not the smallest qualifying nprobe")
        assert(AnnOps.tunedNprobe(spark, Sf, m) ==
          chosen.head.getAs[Long]("param").toInt)
      } else {
        assert(chosen.isEmpty, s"$m: chosen set despite no qualifier")
        assert(AnnOps.tunedNprobe(spark, Sf, m) ==
          mr.map(_.getAs[Long]("param")).max.toInt,
          s"$m: fallback must serve the largest measured nprobe")
      }
    }
    // an unreachable target: chosen false everywhere, accessor falls
    // back to the deepest probe — serving never fails on an ambitious
    // recall goal
    val strict = AnnOps.annProbeTuner(spark, Sf, target = 2.0).collect()
    assert(strict.forall(!_.getAs[Boolean]("chosen")))
    assert(AnnOps.tunedNprobe(spark, Sf, "ivfpq", target = 2.0) ==
      AnnOps.RecallIvfPqNprobes.max)
  }

  test("ann_recall: bounded, and non-decreasing in probes (candidate supersets)") {
    val rows = AnnOps.annRecall(spark, Sf).collect()
    assert(rows.length ==
      AnnOps.RecallLshProbes.size + AnnOps.RecallIvfNprobes.size +
      AnnOps.RecallPqR.size + AnnOps.RecallRpR.size +
      AnnOps.RecallIvfPqNprobes.size + AnnOps.RecallIvfSqNprobes.size +
      AnnOps.RecallResAdcSubs.size +
      2 * AnnOps.RecallGraphHops.size /* graph + graph_pq full curves */ +
      2 /* sq8_adc + sq8 rerank, one pinned point each */)
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("hits") <= r.getAs[Long]("n_exact"))
    }
    // more probes (or a deeper shortlist) strictly widens the
    // candidate set, so recall cannot drop along those curves; ivfpq
    // is NOT mathematically monotone in nprobe (its ADC shortlist is
    // FIXED at R, so widening probes can push a true neighbor out of
    // the top-R shortlist) — assert a tolerance bound there instead
    // graph is monotone by BEAM construction (each hop's beam is the
    // top-B of a superset of the previous beam)
    for (m <- Seq("lsh", "ivf", "pq", "rp", "graph")) {
      val curve = rows.filter(_.getAs[String]("method") == m)
        .sortBy(_.getAs[Long]("param")).map(_.getAs[Double]("recall"))
      assert(curve.nonEmpty, s"$m curve missing")
      assert(curve.zip(curve.tail).forall { case (a, b) => b >= a },
        s"$m recall curve not monotone: ${curve.toSeq}")
    }
    // graph_pq rides the tolerance group too (r14): its BEAM is
    // monotone by construction, but hops are ADC-ordered and the
    // final top-10 exact-reranked, so a deeper hop can crowd a true
    // neighbor out of the bounded beam with better-ADC/worse-sim
    // candidates — same fixed-shortlist caveat as ivfpq
    for (m <- Seq("ivfpq", "ivfsq", "graph_pq")) {
      val curve = rows.filter(_.getAs[String]("method") == m)
        .sortBy(_.getAs[Long]("param")).map(_.getAs[Double]("recall"))
      assert(curve.nonEmpty, s"$m curve missing")
      assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - 0.02 },
        s"$m recall dropped by more than shortlist noise: ${curve.toSeq}")
      assert(curve.last >= curve.head,
        s"$m curve ends below its start: ${curve.toSeq}")
    }
    // the ivfsq curve at the deployed nprobe reproduces D58d's actual
    // two-stage search — the curve is the operator, not a proxy
    locally {
      val exact = AnnOps.annCosineTopK(spark, Sf).select("q_id", "c_id")
      val pipelineHits = AnnOps.annIvfSq(spark, Sf).select("q_id", "c_id")
        .join(exact, Seq("q_id", "c_id")).count()
      val curveRow = rows.find(r => r.getAs[String]("method") == "ivfsq" &&
        r.getAs[Long]("param") == AnnOps.IvfSqNprobe.toLong).get
      assert(curveRow.getAs[Long]("hits") == pipelineHits,
        s"ivfsq curve hits ${curveRow.getAs[Long]("hits")} != pipeline $pipelineHits")
    }
    def at(m: String, p: Long): Double =
      rows.find(r => r.getAs[String]("method") == m &&
        r.getAs[Long]("param") == p).get.getAs[Double]("recall")
    // the 8x256 codebook target: two-stage PQ at full shortlist depth
    // must clear 0.85 recall@10, and the composed ivfpq stack at
    // nprobe=8 must not fall behind IVF-Flat nprobe=8 by more than the
    // shortlist can explain (R=50 >= 5x k keeps the loss ~0)
    assert(at("pq", AnnOps.RecallPqR.max) >= 0.85,
      s"pq rerank recall ${at("pq", AnnOps.RecallPqR.max)} below 0.85")
    assert(at("ivfpq", 8) >= at("ivf", 8) - 0.02,
      s"ivfpq@8 ${at("ivfpq", 8)} behind ivf@8 ${at("ivf", 8)}")
    // residual ADC-order floors (R=10, no re-rank slack): the
    // 16-subspace book must clear 0.60 — and more bits must not order
    // candidates worse. (Floor re-pinned 0.65 → 0.60 at r13: the
    // hash-spread quantizer seeding moved this sf0.01 diagnostic
    // point 0.67 → 0.63 — different centroids, different residual
    // space, data-dependent; the DEPLOYED residual path re-ranks at
    // R=100 where the r13 LloydSweep reads 0.81, unchanged in kind.)
    assert(at("res_adc", 16) >= 0.60,
      s"16-subspace residual ADC-order recall ${at("res_adc", 16)} below 0.60")
    assert(at("res_adc", 16) >= at("res_adc", 8),
      s"res_adc@16 ${at("res_adc", 16)} behind res_adc@8 ${at("res_adc", 8)}")
  }

  test("lloyd rounds: the pinned defaults sit at the measured knee") {
    val exact = AnnOps.annCosineTopK(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val hits = rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
        rs.count(r => exact(q)(r.getAs[Long]("c_id"))) }.sum
      hits.toDouble / (exact.size * 10)
    }
    val more = AnnOps.LloydRounds + 2
    // The knee claim that pins LloydRounds = 1: extra refinement
    // rounds move recall only WITHIN NOISE, in a data-dependent
    // direction (measured: np8 0.81→0.79 at sf0.01, res16 ADC
    // 0.67→0.62 at sf0.01 but 0.68→0.72 at sf0.001, np4 +0.02 at
    // sf0.01 / −0.06 at sf0.001) — so the cheapest setting is
    // correct. The band is a tripwire: a future geometry/data change
    // under which rounds reliably buy > the band must fail here and
    // force a re-measure (LloydSweep), not a silent assumption.
    val band = 0.08
    val np8Def = recall(AnnOps.annIvfM(spark, Sf, AnnOps.DefaultM, 8).collect())
    val np8More = recall(
      AnnOps.annIvfM(spark, Sf, AnnOps.DefaultM, 8, rounds = more).collect())
    assert(math.abs(np8More - np8Def) <= band,
      s"Lloyd rounds now move np8 recall beyond noise ($np8Def -> $np8More): " +
      "re-measure the knee (runMain graft.LloydSweep) and re-pin LloydRounds")
    // residual 16-subspace tripwire — on the DEPLOYED two-stage point
    // (R = 100 re-rank), not the r=10 ADC-order diagnostic: the r13
    // LloydSweep (hash-spread seeding) measured the diagnostic moving
    // 0.63 → 0.73 under +2 rounds while the deployed re-rank point
    // moved 0.81 → 0.84 (within noise) — rounds stay pinned at the
    // cost-knee because the SERVED path is insensitive; the no-rerank
    // diagnostic is expected to wander with the codebook geometry.
    val resDef = recall(
      AnnOps.annIvfPqRes(spark, Sf, r = 100, k = 10, nSub = 16).collect())
    val resMore = recall(AnnOps.annIvfPqRes(spark, Sf, r = 100, k = 10,
      nSub = 16, ivfRounds = more, pqRounds = AnnOps.PqLloydRounds + 2)
      .collect())
    assert(math.abs(resMore - resDef) <= band,
      s"Lloyd rounds now move the deployed res16 re-rank recall beyond " +
      s"noise ($resDef -> $resMore): re-measure the knee (LloydSweep) " +
      "and re-pin the defaults")
  }

  test("embedding near-dup cosines are symmetric-bounded") {
    DedupOps.dedupEmbedding(spark, Sf).collect().foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= 0.35 && c <= 1.0 + 1e-9)
    }
  }

  test("pq codes: full cover, codes in range, Lloyd does not increase error") {
    val pq = AnnOps.pqCodes(spark, Sf)
    assert(pq.count() == Tables.embeddings(spark, Sf).count())
    pq.collect().foreach { r =>
      (0 until AnnOps.PqS).map(s => s"c$s").foreach { c =>
        val k = r.getAs[Long](c)
        assert(k >= 0 && k < AnnOps.PqK, s"$c=$k out of range")
      }
      assert(r.getAs[Double]("err") >= -1e-9)
    }
    val seedErr = AnnOps.pqMeanErr(spark, Sf, refined = false)
    val refErr = AnnOps.pqMeanErr(spark, Sf, refined = true)
    assert(refErr <= seedErr + 1e-12,
      s"Lloyd round increased mean sq error: $seedErr -> $refErr")
  }

  test("ann_pq_adc: k rows per query, measurable recall vs exact L2") {
    val adc = AnnOps.annPqAdc(spark, Sf).collect()
    val byQ = adc.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { rows =>
      assert(rows.length == 10)
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to 10L))
      sorted.foreach(r => assert(r.getAs[Double]("adc") >= -1e-9))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("adc") <= b.getAs[Double]("adc"))
        case _ =>
      }
    }
    // exact L2 top-10 on the driver (the corpus is tiny at test sf)
    val all = Tables.embeddings(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0d)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    var hits = 0; var total = 0
    byQ.foreach { case (qid, rows) =>
      val qv = all.find(_._1 == qid).get._2
      val exact = all.filter(_._1 != qid)
        .map { case (id, v) => (d2(qv, v), id) }.sortBy(identity).take(10)
        .map(_._2).toSet
      hits += rows.count(r => exact(r.getAs[Long]("c_id"))); total += 10
    }
    val recall = hits.toDouble / total
    info(s"pq-adc recall@10 vs exact L2: $recall")
    // random top-10 over ~500 candidates would score ~0.02; measured
    // 0.19 at sf0.001 with the coarse 4x16 code
    assert(recall >= 0.1, s"recall $recall below floor")
  }

  test("ann_pq_rerank: exact sims, recall lifts over raw ADC") {
    val exact = AnnOps.annCosineTopK(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val rerank = AnnOps.annPqRerank(spark, Sf).collect()
    // re-ranked sims are true cosines: every (q, c) pair must carry the
    // same sim the exact query computes when it kept the pair
    val exactSims = AnnOps.annCosineTopK(spark, Sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")) ->
        r.getAs[Double]("sim")).toMap
    rerank.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))
      exactSims.get(key).foreach(s => assert(s == r.getAs[Double]("sim")))
    }
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("q_id"))
      val hits = byQ.map { case (q, rs) =>
        rs.count(r => exact(q)(r.getAs[Long]("c_id"))) }.sum
      hits.toDouble / (exact.size * 10)
    }
    val rAdc = recall(AnnOps.annPqAdc(spark, Sf).collect())
    val rRr = recall(rerank)
    info(s"recall@10 vs exact cosine: adc=$rAdc rerank=$rRr")
    assert(rRr >= rAdc - 1e-12, "re-ranking must not lose recall")
    assert(rRr >= 0.3, s"rerank recall $rRr below floor")
  }

  test("semantic decontamination: full corpus cover, verdicts consistent") {
    val d = AnnOps.decontaminateSemantic(spark, Sf)
    val nCorpus = Tables.embeddings(spark, Sf)
      .filter(col("label") =!= 0).count()
    val rows = d.collect()
    assert(rows.length == nCorpus)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(r.getAs[Boolean]("contaminated") == (hits > 0))
      if (hits > 0) {
        val mc = r.getAs[Double]("max_cos")
        assert(mc >= 0.35 && mc <= 1.0 + 1e-9)
      } else assert(r.isNullAt(r.fieldIndex("max_cos")))
    }
  }

  test("embedding clusters: total cover, min-label components, pairs co-labeled") {
    val cc = DedupOps.dedupEmbeddingClusters(spark, Sf)
    assert(cc.count() == Tables.embeddings(spark, Sf).count())
    val rows = cc.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("component"), r.getAs[Long]("cluster_size"))).toMap
    // component label is the min vec_id of its members, size is the group size
    rows.groupBy(_._2._1).foreach { case (comp, members) =>
      assert(members.keys.min == comp, s"component $comp label not min id")
      members.values.foreach { case (_, sz) =>
        assert(sz == members.size, s"component $comp size $sz != ${members.size}")
      }
    }
    // every verified cosine pair lands in one component
    DedupOps.dedupEmbedding(spark, Sf).collect().foreach { r =>
      val a = rows(r.getAs[Long]("a_id"))._1
      val b = rows(r.getAs[Long]("b_id"))._1
      assert(a == b, s"pair split across components $a vs $b")
    }
  }

  test("ann_mmr: the emitted sequence IS the greedy MMR order (Scala re-derivation)") {
    import graft.operators.AnnOps.{MmrShort, MmrK, MmrLambda}
    val vecs = Tables.embeddings(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    val out = graft.operators.AnnOps.annMmr(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(out.nonEmpty)
    val queries = vecs.keys.filter(_ % 50 == 0)
    assert(out.keySet == queries.toSet)
    queries.foreach { q =>
      // shortlist: top-R by (rel desc, id asc), self excluded
      val sl = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos(q, c)))
        .sortBy { case (c, r) => (-r, c) }.take(MmrShort)
      var selected = Vector(sl.head)
      var expected = Vector((sl.head._1, sl.head._2, MmrLambda * sl.head._2, 1L))
      for (i <- 2 to MmrK) {
        val remaining = sl.filterNot(c => selected.exists(_._1 == c._1))
        val scored = remaining.map { case (c, rel) =>
          val pen = selected.map(s => cos(c, s._1)).max
          (c, rel, MmrLambda * rel - (1 - MmrLambda) * pen)
        }
        val best = scored.minBy { case (c, _, m) => (-m, c) }
        selected :+= ((best._1, best._2))
        expected :+= ((best._1, best._2, best._3, i.toLong))
      }
      val got = out(q).sortBy(_.getAs[Long]("pick")).map(r =>
        (r.getAs[Long]("c_id"), r.getAs[Double]("rel"),
          r.getAs[Double]("mmr"), r.getAs[Long]("pick")))
      assert(got.toVector == expected,
        s"query $q: got ${got.toVector}, expected $expected")
    }
  }

  test("filtered ANN planner: selective predicate → exact arm, broad → ivf arm") {
    val sel = AnnOps.annFiltered(spark, Sf)
    val broad = AnnOps.annFilteredIvf(spark, Sf)
    assert(sel.select("path").distinct().collect().map(_.getString(0)).toSeq
      == Seq("exact"))
    assert(broad.select("path").distinct().collect().map(_.getString(0)).toSeq
      == Seq("ivf"))
    // every result satisfies its predicate
    val labels = Tables.embeddings(spark, Sf)
      .select(col("vec_id").as("c_id"), col("label"))
    assert(sel.join(labels, "c_id").filter(col("label") =!= 3).count() == 0)
    assert(broad.join(labels, "c_id").filter(col("label") === 0).count() == 0)
  }

  test("filtered ANN: forced IVF on the selective predicate loses recall the exact arm keeps") {
    // ground truth = exact filtered top-10 (what the planner's exact
    // arm computes by construction)
    val truth = AnnOps.filteredExact(spark, Sf, _ === 3)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = truth.toSeq.map { case (q, t) =>
        (t intersect got.getOrElse(q, Set.empty)).size.toDouble / t.size }
      hits.sum / hits.size
    }
    val forcedIvf = recall(AnnOps.filteredIvf(spark, Sf, _ === 3))
    // the collapse that motivates the planner: probing 4/16 lists and
    // keeping only ~10% of their members leaves the heap starved
    assert(forcedIvf < 0.9, s"forced-ivf recall $forcedIvf unexpectedly high")
    assert(recall(AnnOps.annFiltered(spark, Sf)) == 1.0)
  }
}
