package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. relational / OLAP core
    "q1_pricing_summary"   -> (RelationalOps.q1PricingSummary _),
    "q3_shipping_priority" -> (RelationalOps.q3ShippingPriority _),
    "q5_region_revenue"    -> (RelationalOps.q5RegionRevenue _),
    "q7_nation_volume"     -> ((s: SparkSession, d: String) =>
      RelationalOps.q7NationVolume(s, d)),
    "q_top_customers"      -> (RelationalOps.qTopCustomers _),
    "q_part_brand_stats"   -> (RelationalOps.qPartBrandStats _),
    "q_orders_window"      -> (RelationalOps.qOrdersWindow _),
    "q_rank_parts"         -> (RelationalOps.qRankParts _),
    "q_dense_size_parts"   -> (RelationalOps.qDenseSizeParts _),
    "q4_order_priority"    -> (RelationalOps.q4OrderPriority _),
    "q17_small_qty_revenue" -> ((s: SparkSession, d: String) =>
      RelationalOps.q17SmallQtyRevenue(s, d)),
    "q22_idle_customers"   -> (RelationalOps.q22IdleCustomers _),
    "q_rollup_revenue"     -> (RelationalOps.qRollupRevenue _),
    "q2_min_cost_supplier" -> (RelationalOps.q2MinCostSupplier _),
    "q11_value_share"      -> ((s: SparkSession, d: String) =>
      RelationalOps.q11ValueShare(s, d)),
    "q14_promo_share"      -> (RelationalOps.q14PromoShare _),
    "q16_supplier_variety" -> (RelationalOps.q16SupplierVariety _),
    "q18_large_orders"     -> ((s: SparkSession, d: String) =>
      RelationalOps.q18LargeOrders(s, d)),
    "q19_disjunctive_revenue" -> (RelationalOps.q19DisjunctiveRevenue _),
    "q20_share_suppliers"  -> ((s: SparkSession, d: String) =>
      RelationalOps.q20ShareSuppliers(s, d)),
    "q21_sole_late_supplier" -> ((s: SparkSession, d: String) =>
      RelationalOps.q21SoleLateSupplier(s, d)),
    "q6_forecast_revenue"  -> (RelationalOps.q6ForecastRevenue _),
    "q8_market_share"      -> ((s: SparkSession, d: String) =>
      RelationalOps.q8MarketShare(s, d)),
    "q9_product_profit"    -> ((s: SparkSession, d: String) =>
      RelationalOps.q9ProductProfit(s, d)),
    "q10_returned_customers" -> (RelationalOps.q10ReturnedCustomers _),
    "q12_lateship_priority" -> (RelationalOps.q12LateShipPriority _),
    "q13_order_count_dist" -> (RelationalOps.q13OrderCountDistribution _),
    "q15_top_supplier"     -> (RelationalOps.q15TopSupplier _),
    // D41-44: intake profiling / quality gates / source overlap / link rank
    "data_profile"         -> (ProfileOps.dataProfile _),
    "events_profile"       -> (ProfileOps.eventsProfile _),
    "emb_profile"          -> (ProfileOps.embeddingsProfile _),
    "quality_gates"        -> (ProfileOps.qualityGates _),
    "source_overlap"       -> (ProfileOps.sourceOverlap _),
    "corpus_drift"         -> ((s: SparkSession, d: String) =>
      ProfileOps.corpusDrift(s, d)),
    "corpus_drift_summary" -> (ProfileOps.corpusDriftSummary _),
    "graph_pagerank"       -> (GraphOps.pageRank _),
    "graph_triangles"      -> (GraphOps.triangles _),
    "graph_link_predict"   -> (GraphOps.linkPredict _),
    "evt_attribution"      -> (EventOps.attribution _),
    // B28: exact-moment least-squares trend + correlation per type
    "evt_regression"       -> (EventOps.regression _),
    "bpe_coverage"         -> (BpeOps.coverageBpe _),
    "graph_source_rank"    -> (GraphOps.sourceRank _),
    "evt_transitions"      -> (EventOps.transitions _),
    "evt_ewma"             -> (EventOps.ewmaSmooth _),
    "doc_split_assign"     -> (CurationOps.splitAssign _),
    "privacy_k_anon"       -> (CurationOps.kAnonLadder _),
    "layout_zorder_rect"   -> (ZOrderOps.rectProbe _),
    "layout_zorder_purge"  -> (ZOrderOps.purgedProbe _),
    "layout_zorder_point"  -> ((s: SparkSession, d: String) =>
      ZOrderOps.pointLookup(s, d)),
    "evt_pattern_match"    -> ((s: SparkSession, d: String) =>
      EventOps.patternMatch(s, d)),
    "evt_pattern_abandoned" -> ((s: SparkSession, d: String) =>
      EventOps.patternAbandoned(s, d)),
    // B29: Kleene-quantified CEP (view click+ purchase, bounded run)
    "evt_pattern_kleene"   -> ((s: SparkSession, d: String) =>
      EventOps.patternKleene(s, d)),
    // B30: pattern-spec compiler (view click? purchase - optional step)
    "evt_pattern_spec"     -> ((s: SparkSession, d: String) =>
      EventOps.patternSpec(s, d)),
    "evt_incident_join"    -> (EventOps.incidentJoin _),
    "evt_daily_anomaly"    -> ((s: SparkSession, d: String) =>
      EventOps.dailyAnomaly(s, d)),
    "evt_sessionize_native" -> (EventOps.sessionizeNative _),
    "evt_value_histogram"  -> ((s: SparkSession, d: String) =>
      EventOps.valueHistogram(s, d)),
    "emb_norm_stats"       -> (AnnOps.embNormStats _),
    "evt_attribution_outer" -> (EventOps.attributionOuter _),
    "evt_attribution_credit" -> (EventOps.attributionCredit _),
    "text_phrase_search"   -> ((s: SparkSession, d: String) =>
      TextOps.phraseSearch(s, d)),
    "text_typo_pairs"      -> (TextOps.typoPairs _),
    "doc_holdout_split"    -> ((s: SparkSession, d: String) =>
      CurationOps.holdoutSplit(s, d)),
    "emb_outliers"         -> ((s: SparkSession, d: String) =>
      AnnOps.embOutliers(s, d)),
    "emb_hard_negatives"   -> ((s: SparkSession, d: String) =>
      AnnOps.hardNegatives(s, d)),
    // B. log-agent event semantics
    "evt_latest_per_key"   -> (EventOps.latestPerKey _),
    "evt_debounce"         -> (EventOps.debounce _),
    "evt_change_detect"    -> (EventOps.changeDetect _),
    "evt_sessionize"       -> (EventOps.sessionize _),
    "evt_microbatch_stats" -> (EventOps.microbatchStats _),
    "evt_cardinality"      -> (EventOps.cardinality _),
    "evt_trending"         -> ((s: SparkSession, d: String) =>
      EventOps.trending(s, d)),
    "evt_handler_routing"  -> (EventOps.handlerRouting _),
    "evt_error_burst"      -> (EventOps.errorBurst _),
    "evt_sliding_error_rate" -> (EventOps.slidingErrorRate _),
    "evt_value_zscore"     -> (EventOps.valueZscore _),
    "evt_upsert_latest"    -> (EventOps.upsertLatest _),
    "evt_props_json"       -> (EventOps.propsJson _),
    "evt_asof_prior"       -> (EventOps.asofPriorError _),
    "evt_percentiles"      -> (EventOps.valuePercentiles _),
    "evt_interarrival"     -> (EventOps.interarrival _),
    "evt_gap_anomaly"      -> (EventOps.gapAnomaly _),
    "evt_salted_stats"     -> (EventOps.saltedUserStats _),
    "evt_change_ledger"    -> (EventOps.changeLedger _),
    "evt_funnel"           -> (EventOps.funnel _),
    "evt_resample_ffill"   -> (EventOps.resampleFfill _),
    "evt_retention"        -> (EventOps.retention _),
    // C. FileMeta pipeline
    "file_meta_extract"    -> (FileMetaOps.fileMetaExtract _),
    "file_pattern_filter"  -> (FileMetaOps.filePatternFilter _),
    "bsi_testid_time"      -> (FileMetaOps.bsiTestIdTime _),
    "content_policy"       -> (FileMetaOps.contentPolicy _),
    "kafka_envelope_key"   -> (FileMetaOps.kafkaEnvelopeKey _),
    "gzip_content"         -> (FileMetaOps.gzipContent _),
    "zip_expand"           -> (ZipOps.zipExpand _),
    "jsonl_ingest"         -> (graft.sources.IngestSources.jsonlIngest _),
    "csv_ingest"           -> (graft.sources.IngestSources.csvIngest _),
    // D. LLM-training-data pipeline
    "dedup_exact"          -> (DedupOps.dedupExact _),
    "dedup_source_stats"   -> (DedupOps.sourceDupStats _),
    "dedup_winnow"         -> ((s: SparkSession, d: String) =>
      DedupOps.dedupWinnow(s, d)),
    "dedup_ngram_jaccard"  -> (DedupOps.dedupNgramJaccard _),
    "dedup_explain"        -> ((s: SparkSession, d: String) =>
      DedupOps.dedupExplain(s, d)),
    "dedup_minhash_lsh"    -> (DedupOps.dedupMinhashLsh _),
    "dedup_minhash_verified" -> ((s, d) => DedupOps.dedupMinhashLshVerified(s, d)),
    // D74: LSH candidate recall vs the exact tau-Jaccard truth, per
    // band geometry — the dedup family's ann_recall — with the
    // analytic S-curve expectation and the tuner's chosen geometry
    "dedup_recall"         -> ((s: SparkSession, d: String) =>
      DedupOps.dedupRecall(s, d)),
    // D75: the simhash pipeline's recall of the same truth
    "dedup_recall_simhash" -> ((s: SparkSession, d: String) =>
      DedupOps.dedupRecallSimhash(s, d)),
    "dedup_simhash"        -> (DedupOps.dedupSimhash _),
    "dedup_embedding"      -> (DedupOps.dedupEmbedding _),
    "dedup_embedding_clusters" -> (DedupOps.dedupEmbeddingClusters _),
    "dedup_clusters"       -> (DedupOps.dedupClusters _),
    "dedup_clusters_star"  -> (DedupOps.dedupClustersStar _),
    "dedup_substring"      -> ((s: SparkSession, d: String) =>
      DedupOps.dedupSubstring(s, d)),
    "dedup_substring_scrub" -> ((s: SparkSession, d: String) =>
      DedupOps.dedupSubstringScrub(s, d)),
    "dedup_lines"          -> (DedupOps.dedupLines _),
    "dedup_incremental"    -> (CurationOps.dedupIncremental _),
    "dedup_incremental_bloom" -> (CurationOps.dedupIncrementalBloom _),
    "dedup_incremental_lsh" -> ((s: SparkSession, d: String) =>
      CurationOps.dedupIncrementalLsh(s, d)),
    "doc_curation"         -> (CurationOps.curate _),
    "doc_sample_stratified" -> (CurationOps.sampleStratified _),
    "doc_sample_weighted"  -> ((s: SparkSession, d: String) =>
      CurationOps.sampleWeighted(s, d)),
    "doc_pack_tokens"      -> (CurationOps.packTokens _),
    "doc_chunk"            -> ((s: SparkSession, d: String) =>
      CurationOps.docChunk(s, d)),
    "doc_mixture"          -> (CurationOps.mixture _),
    "doc_mixture_weighted" -> ((s: SparkSession, d: String) =>
      CurationOps.mixtureWeighted(s, d, CurationOps.demoWeights(s))),
    // minHits=1 for the registry demo: any verbatim 3-gram hit flags
    "doc_decontaminate"    -> ((s: SparkSession, d: String) =>
      CurationOps.decontaminate(s, d, CurationOps.demoEvalSet(s), minHits = 1)),
    "dedup_keep_best"      -> (CurationOps.dedupKeepBest _),
    "corpus_build"         -> (CurationOps.corpusBuild _),
    "corpus_build_incremental" -> (CurationOps.corpusBuildIncremental _),
    "text_token_count"     -> (TextOps.tokenCount _),
    "text_vocab"           -> ((s: SparkSession, d: String) =>
      TextOps.vocabTopK(s, d)),
    "doc_length_stats"     -> (TextOps.lengthStats _),
    "doc_source_quality"   -> (TextOps.sourceQuality _),
    "text_pii_scrub"       -> (TextOps.piiScrub _),
    "text_repetition"      -> (TextOps.repetition _),
    "doc_gopher_rules"     -> (TextOps.gopherRules _),
    "doc_similar"          -> ((s: SparkSession, d: String) =>
      TextOps.docSimilar(s, d)),
    "doc_similar_rrf"      -> (TextOps.docSimilarRrf _),
    "doc_quality_report"   -> (CurationOps.qualityReport _),
    "doc_lm_tiers"         -> (TextOps.lmTiers _),
    "doc_mixture_tiered"   -> (CurationOps.mixtureTiered _),
    "text_normalize"       -> (TextOps.normalize _),
    "text_quality"         -> (TextOps.quality _),
    "text_langid"          -> (TextOps.langid _),
    "doc_fingerprint"      -> (TextOps.fingerprint _),
    "ann_cosine_topk"      -> (AnnOps.annCosineTopK _),
    "ann_lsh"              -> (AnnOps.annLsh _),
    "ann_ivf"              -> (AnnOps.annIvf _),
    "ann_filtered"         -> (AnnOps.annFiltered _),
    "ann_filtered_ivf"     -> (AnnOps.annFilteredIvf _),
    "ann_mmr"              -> ((s: SparkSession, d: String) =>
      AnnOps.annMmr(s, d)),
    "ann_sq8_adc"          -> ((s: SparkSession, d: String) =>
      AnnOps.annSq8Adc(s, d)),
    "ann_sq8_rerank"       -> ((s: SparkSession, d: String) =>
      AnnOps.annSq8Rerank(s, d)),
    "ann_ivfsq"            -> ((s: SparkSession, d: String) =>
      AnnOps.annIvfSq(s, d)),
    "ann_rp_prefilter"     -> ((s: SparkSession, d: String) =>
      AnnOps.annRpPrefilter(s, d)),
    "doc_classify_lang"    -> (TextOps.classifyLang _),
    "ann_recall"           -> (AnnOps.annRecall _),
    "ann_probe_tuner"      -> ((s: SparkSession, d: String) =>
      AnnOps.annProbeTuner(s, d)),
    "ann_graph_build"      -> (AnnOps.annGraphBuild _),
    "ann_graph"            -> ((s: SparkSession, d: String) =>
      AnnOps.annGraph(s, d)),
    "ann_graph_appended"   -> (AnnOps.annGraphAppended _),
    "ann_graph_filtered"   -> (AnnOps.annGraphFiltered _),
    "ann_graph_pq"         -> ((s: SparkSession, d: String) =>
      AnnOps.annGraphPq(s, d)),
    "emb_cluster_assign"   -> (AnnOps.clusterAssign _),
    "emb_sample_balanced"  -> ((s: SparkSession, d: String) =>
      AnnOps.sampleClusterBalanced(s, d)),
    "emb_label_stats"      -> (AnnOps.embLabelStats _),
    "decontaminate_semantic" -> ((s: SparkSession, d: String) =>
      AnnOps.decontaminateSemantic(s, d)),
    "emb_pq_codes"         -> (AnnOps.pqCodes _),
    "ann_pq_adc"           -> ((s: SparkSession, d: String) =>
      AnnOps.annPqAdc(s, d)),
    "ann_pq_rerank"        -> ((s: SparkSession, d: String) =>
      AnnOps.annPqRerank(s, d)),
    "ann_ivfpq"            -> ((s: SparkSession, d: String) =>
      AnnOps.annIvfPq(s, d)),
    "ann_ivfpq_res"        -> ((s: SparkSession, d: String) =>
      AnnOps.annIvfPqRes(s, d)),
    "doc_keywords"         -> ((s: SparkSession, d: String) =>
      TextOps.docKeywords(s, d)),
    "doc_search_bm25"      -> ((s: SparkSession, d: String) =>
      TextOps.docSearchBm25(s, d)),
    "text_inverted_postings" -> ((s: SparkSession, d: String) =>
      TextOps.invertedPostings(s, d)),
    // D70: delta-merge index maintenance (≡ the full rebuild's oracle)
    "postings_incremental" -> (TextOps.postingsIncremental _),
    // D71: prefix-filtered exact τ-Jaccard join (lossless pruning)
    "dedup_prefix_filter"  -> ((s: SparkSession, d: String) =>
      DedupOps.dedupPrefixFilter(s, d)),
    // D73: asymmetric containment join (excerpt/quotation detector)
    "dedup_containment"    -> ((s: SparkSession, d: String) =>
      DedupOps.dedupContainment(s, d)),
    // D72: distributive Pareto front over (length, lexical diversity)
    "doc_pareto_front"     -> (CurationOps.paretoFront _),
    // D72b: front maintained from the persisted standing front + delta
    "doc_pareto_incremental" -> (CurationOps.paretoIncremental _),
    // A28: groupBy().pivot() conditional-aggregate matrix
    "q_pivot_returns"      -> (RelationalOps.qPivotReturns _),
    "text_collocations"    -> ((s: SparkSession, d: String) =>
      TextOps.collocations(s, d)),
    // D37–D39: export manifest, LM quality scoring, BPE tokenizer
    "corpus_export_shards" -> ((s: SparkSession, d: String) =>
      CurationOps.exportShards(s, d)),
    "doc_lm_score"         -> (TextOps.lmScore _),
    "bpe_train"            -> (BpeOps.bpeTrain _),
    "text_tokenize_bpe"    -> (BpeOps.tokenizeBpe _),
    "doc_pack_bpe"         -> ((s: SparkSession, d: String) =>
      BpeOps.packBpe(s, d)),
    // D40: DSIR-style importance resampling (hashed-n-gram
    // distribution matching, integer Q10 throughout)
    "doc_importance_weights" -> (DsirOps.importanceWeights _),
    "doc_importance_resample" -> ((s: SparkSession, d: String) =>
      DsirOps.importanceResample(s, d)),
    // F. multimodal plumbing — image/audio/video decode all REAL via
    // the JDK's own codecs (ImageIO PNG + animated GIF, javax.sound
    // WAV); fakeDecode survives only as the no-codec fallback
    "media_feature_stats"  -> (multimodal.MultimodalOps.mediaFeatureStats _),
    "media_features"       -> (multimodal.MultimodalOps.mediaFeatures _),
    "media_image_stats"    -> (multimodal.MultimodalOps.imagePixelStats _),
    "media_image_dedup"    -> ((s: SparkSession, d: String) =>
      multimodal.MultimodalOps.imageDedup(s, d)),
    "media_audio_stats"    -> (multimodal.MultimodalOps.audioSampleStats _),
    "media_video_stats"    -> (multimodal.MultimodalOps.videoFrameStats _),
    // D36: persisted-layout serving — each query ensures its family's
    // bucketed table exists (build+write exactly once per (dir,
    // geometry)) and then serves FROM THE TABLE through the same
    // operator code as its session twin; oracles are shared with the
    // twins, so layout and session paths are pinned to each other.
    "layout_ann_ivfpq"     -> (LayoutOps.annIvfPqServed _),
    "layout_ann_ivfpq_res" -> (LayoutOps.annIvfPqResServed _),
    "layout_ann_ivfpq_appended" -> (LayoutOps.annIvfPqAppendedServed _),
    "layout_ann_ivfpq_res_appended" -> (LayoutOps.annIvfPqResAppendedServed _),
    "layout_text_postings" -> (LayoutOps.postingsServed _),
    "layout_postings_probe" -> ((s: SparkSession, d: String) =>
      LayoutOps.postingsProbeServed(s, d)),
    "layout_dedup_minhash_lsh" -> (LayoutOps.minhashLshServed _),
    // D36m: the tuner's choices served from the persisted config
    "layout_serving_config" -> (LayoutOps.servingConfigServed _),
    "layout_manifest_probe" -> (LayoutOps.manifestProbeServed _),
    "layout_cc_labels"     -> (LayoutOps.ccLabelsServed _),
    // D38b/D39c: the reference LM and the trained tokenizer served
    // from their persisted layouts
    "layout_lm_delta_score" -> (LayoutOps.lmDeltaScored _),
    "layout_bpe_tokenize"  -> (LayoutOps.bpeTokenizeServed _),
    // D40c: the DSIR model served from its persisted tables
    "layout_importance_weights" -> (LayoutOps.importanceWeightsServed _),
    // D44c: the persisted rank served
    "layout_graph_rank"    -> (LayoutOps.pagerankServed _),
    // D36i: phrase search from the persisted positional postings
    "layout_phrase_search" -> (LayoutOps.phraseServed _),
    "layout_doc_similar"   -> (LayoutOps.docSimilarServed _),
    // D55c: the drift monitor from the persisted standing counts
    "layout_corpus_drift"  -> (LayoutOps.corpusDriftServed _),
    // D53c: filtered ANN from the persisted labeled lists
    "layout_ann_filtered"  -> (LayoutOps.annFilteredServed _),
    // D54b: the RRF ensemble from the persisted shingle postings
    "layout_doc_similar_rrf" -> (LayoutOps.docSimilarRrfServed _),
    // D58c: SQ8 search from the persisted codes + model tables
    "layout_ann_sq8"       -> (LayoutOps.annSq8Served _),
    "layout_ann_graph"     -> (LayoutOps.annGraphServed _),
    // D59b: NB classification from the persisted model tables
    "layout_doc_classify"  -> (LayoutOps.classifyLangServed _)
  )

  /** DuckDB fragment for the synthesized document path (= FileMetaOps.synthPath). */
  private val PathSql =
    "source || '/' || lang || (CASE WHEN doc_id % 3 = 0 THEN '/deep' ELSE '' END)" +
    " || '/d' || CAST(doc_id AS VARCHAR)" +
    " || (CASE doc_id % 4 WHEN 0 THEN '.log' WHEN 1 THEN '.txt'" +
    " WHEN 2 THEN '.zip' ELSE '.dat' END)"

  // --- DuckDB replication of the Winnow kernel's mod-2^64 arithmetic
  // (functions/Winnow.scala): polynomial rolling hash base 1000003 +
  // splitmix64 finalizer, computed in HUGEINT with explicit wraparound
  // so the oracle reproduces the kernel's exact signed-long outputs.
  private val M64 = "18446744073709551616" // 2^64
  private def mulmod(a: String, b: String): String =
    s"((((($a) % 4294967296) * ($b)) + " +
    s"((((($a) // 4294967296) * ($b)) % 4294967296) * 4294967296)) % $M64)"
  private def xor64(a: String, b: String): String =
    s"CAST(xor(CAST(($a) AS UBIGINT), CAST(($b) AS UBIGINT)) AS HUGEINT)"
  private def shr(a: String, n: Int): String = s"(($a) // ${1L << n})"
  private def mix(z0: String): String = {
    val z1 = s"((($z0) + 11400714819323198485) % $M64)"
    val z2 = mulmod(xor64(z1, shr(z1, 30)), "13787848793156543929")
    val z3 = mulmod(xor64(z2, shr(z2, 27)), "10723151780598845931")
    xor64(z3, shr(z3, 31))
  }
  /** poly hash of the 8-gram at 1-based position i (ASCII corpus). */
  /** Shared winnow CTE chain (G5 kernel replication): per-doc sorted
    * distinct fingerprints `w.fps` — used by doc_fingerprint and
    * dedup_winnow.
    */
  private lazy val WinnowFpCtes: String =
    "WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents), " +
    "g AS (SELECT doc_id, n, list_transform(range(1, n - 6), " +
    s"i -> CAST(${signed64(mix(winnowPoly("i")))} AS BIGINT)) AS hashes FROM d), " +
    "w AS MATERIALIZED (SELECT doc_id, list_sort(list_distinct(" +
    "list_transform(range(4, len(hashes) + 1), " +
    "i -> list_min(hashes[i-3:i])))) AS fps FROM g)"

  private def winnowPoly(i: String): String = {
    val pows = (0 until 8).map(j => BigInt(1000003).pow(7 - j).mod(BigInt(2).pow(64)))
    val terms = (0 until 8).map { j =>
      s"(CAST(ord(substr(text, $i + $j, 1)) AS HUGEINT) * ${pows(j)})"
    }.mkString(" + ")
    s"(($terms) % $M64)"
  }
  private def signed64(v: String): String =
    s"(CASE WHEN ($v) >= 9223372036854775808 THEN ($v) - $M64 ELSE ($v) END)"

  /** Seed ordering for EVERY IVF quantizer chain: ascending
    * (mix64(vec_id), vec_id) — the replicated splitmix64 spread that
    * matches `AnnOps.ivfModel`'s hash-spread seeding (first-m-by-id
    * seeding degenerates on id-correlated corpora; see the scaladoc
    * there). One shared fragment so the seven seed CTEs cannot drift.
    */
  private lazy val ivfSeedOrder: String =
    s"CAST(${signed64(mix("vec_id"))} AS BIGINT), vec_id"

  /** D44 oracle: integer PageRank with GraphOps' exact arithmetic —
    * the synthesized edge set replicates Mix64 (splitmix64) in
    * HUGEINT, then 5 unrolled rounds of floor-division mass passing.
    * Every quantity is an integer, so the oracle is replication, not
    * approximation.
    */
  private lazy val PagerankSql: String = {
    val n = "(SELECT c FROM nn)"
    val sig = signed64(mix(s"((CAST(doc_id AS HUGEINT) * 1000003 + j) % $M64)"))
    val rounds = (1 to graft.operators.GraphOps.Iterations).map { k =>
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""r$k AS (SELECT d.doc_id AS id,
         |  (SELECT base FROM b) + (COALESCE(s.inc, 0) * 17) // 20 AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT dst, SUM(r // ${graft.operators.GraphOps.OutDegree}) AS inc
         |    FROM e JOIN $prev ON e.src = $prev.id GROUP BY 1) s
         |  ON s.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    val last = s"r${graft.operators.GraphOps.Iterations}"
    s"""WITH nn AS (SELECT COUNT(*) AS c FROM documents),
       |b AS (SELECT ((${graft.operators.GraphOps.TotalMass} // $n) * 3) // 20
       |  AS base),
       |e AS (SELECT doc_id AS src,
       |    CAST(((($sig) % $n) + $n) % $n AS BIGINT) AS dst
       |  FROM documents, range(0, ${graft.operators.GraphOps.OutDegree}) t(j)),
       |r0 AS (SELECT doc_id AS id,
       |  ${graft.operators.GraphOps.TotalMass} // $n AS r FROM documents),
       |$rounds
       |SELECT id AS doc_id, CAST(r AS BIGINT) AS pr FROM $last
       |ORDER BY pr DESC, doc_id""".stripMargin
  }

  /** D61 oracle: the same synthesized multigraph canonicalized to
    * simple undirected edges, degree-(id)-oriented, wedges closed
    * against the edge set — GraphOps.triangles' exact integer chain
    * replicated (each triangle counted once at its min-rank corner,
    * then exploded to its three vertices).
    */
  private lazy val TrianglesSql: String = {
    val n = "(SELECT c FROM nn)"
    val sig = signed64(mix(s"((CAST(doc_id AS HUGEINT) * 1000003 + j) % $M64)"))
    s"""WITH nn AS (SELECT COUNT(*) AS c FROM documents),
       |e0 AS (SELECT doc_id AS src,
       |    CAST(((($sig) % $n) + $n) % $n AS BIGINT) AS dst
       |  FROM documents, range(0, ${operators.GraphOps.OutDegree}) t(j)),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e0 WHERE src <> dst),
       |deg AS (SELECT id, COUNT(*) AS dg FROM
       |  (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
       |  GROUP BY 1),
       |o AS (SELECT
       |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
       |      THEN a ELSE b END AS u,
       |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND a < b)
       |      THEN b ELSE a END AS v
       |  FROM und JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b),
       |tri AS (SELECT w1.u AS u, w1.v AS x, w2.v AS y
       |  FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v < w2.v
       |  JOIN und ON w1.v = und.a AND w2.v = und.b)
       |SELECT id AS doc_id, COUNT(*) AS tri FROM
       |  (SELECT u AS id FROM tri UNION ALL SELECT x AS id FROM tri
       |   UNION ALL SELECT y AS id FROM tri)
       |GROUP BY 1 ORDER BY tri DESC, doc_id""".stripMargin
  }

  /** D67 oracle: link prediction over the same replicated edge set —
    * wedges pivoted only at degree-≤cap nodes, common-neighbor count
    * plus the fixed-point resource-allocation sum Σ⌊10^12/deg⌋ (exact
    * integers end to end), existing edges anti-joined away, global
    * top-k with a total tie-break.
    */
  private lazy val LinkPredictSql: String = {
    val n = "(SELECT c FROM nn)"
    val sig = signed64(mix(s"((CAST(doc_id AS HUGEINT) * 1000003 + j) % $M64)"))
    s"""WITH nn AS (SELECT COUNT(*) AS c FROM documents),
       |e0 AS (SELECT doc_id AS src,
       |    CAST(((($sig) % $n) + $n) % $n AS BIGINT) AS dst
       |  FROM documents, range(0, ${operators.GraphOps.OutDegree}) t(j)),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e0 WHERE src <> dst),
       |deg AS (SELECT id, COUNT(*) AS dg FROM
       |  (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
       |  GROUP BY 1),
       |adj AS (SELECT a AS z, b AS nbr FROM und
       |  UNION ALL SELECT b AS z, a AS nbr FROM und),
       |pv AS (SELECT adj.z, adj.nbr, deg.dg FROM adj
       |  JOIN deg ON deg.id = adj.z
       |  WHERE deg.dg <= ${operators.GraphOps.LinkDegCap}),
       |wed AS (SELECT p1.nbr AS x, p2.nbr AS y, p1.dg AS dg
       |  FROM pv p1 JOIN pv p2 ON p1.z = p2.z AND p1.nbr < p2.nbr),
       |sc AS (SELECT x, y, COUNT(*) AS cn,
       |    CAST(SUM(${operators.GraphOps.RaScale} // dg) AS BIGINT) AS ra
       |  FROM wed GROUP BY 1, 2),
       |ne AS (SELECT * FROM sc WHERE NOT EXISTS
       |  (SELECT 1 FROM und WHERE und.a = sc.x AND und.b = sc.y))
       |SELECT x, y, cn, ra FROM ne
       |ORDER BY ra DESC, x, y LIMIT ${operators.GraphOps.LinkTopK}"""
      .stripMargin
  }

  /** D35/D70 oracle: the full-corpus postings top-100 — D70's
    * incremental merge is checked against the same full-rebuild SQL
    * (the D28b hash-parity pattern: delta algebra proven lossless).
    */
  private lazy val InvertedPostingsSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM t GROUP BY 1, 2),
      |inv AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(tf) AS BIGINT) AS total_tf,
      |    array_to_string(list(CAST(doc_id AS VARCHAR) || ':'
      |      || CAST(tf AS VARCHAR) ORDER BY doc_id), ' ') AS postings
      |  FROM tf GROUP BY tok),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY df DESC, tok)
      |    AS BIGINT) AS rnk FROM inv)
      |SELECT tok, df, total_tf, postings, rnk FROM r WHERE rnk <= 100
      |ORDER BY rnk""".stripMargin

  /** Hyperplane-LSH coefficient/bucket replication (VecKernels
    * .hyperplaneBucket): coef(p,d) = (splitmix64(p·131+d) mod 1000
    * − 500)/500, bucket = sign bits of the sequential dot products.
    * list_dot_product folds left-to-right like VecDot ⇒ bit-exact.
    */
  private def hpCoef: String = {
    val m = s"(${signed64(mix("(p*131 + d)"))} % 1000)"
    s"((CASE WHEN $m < 0 THEN $m + 1000 ELSE $m END) - 500) / 500.0"
  }
  private def hpBucket(nPlanes: Int): String =
    s"(SELECT CAST(sum(CASE WHEN list_dot_product(v, " +
    s"list_transform(range(0, len(v)), d -> CAST($hpCoef AS DOUBLE))) >= 0 " +
    s"THEN power(2, $nPlanes - 1 - p)::BIGINT ELSE 0 END) AS BIGINT) " +
    s"FROM range(0, $nPlanes) t(p))"

  /** D15/D15c shared oracle: the Bloom variant is a plan
    * optimization with identical verdicts, so both queries check
    * against one SQL definition.
    */
  private val IncrementalDedupSql =
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s),
        |near AS (SELECT DISTINCT a_id AS doc_id FROM (
        |  SELECT a.doc_id AS a_id
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |    AND a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |  HAVING COUNT(*) >= 2 AND CAST(COUNT(*) AS DOUBLE) /
        |    CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE) >= 0.5)),
        |ex AS (SELECT DISTINCT i.doc_id FROM documents i JOIN documents c
        |  ON i.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
        |  AND md5(i.text) = md5(c.text))
        |SELECT i.doc_id,
        |  i.doc_id IN (SELECT doc_id FROM ex) AS is_exact_dup,
        |  i.doc_id IN (SELECT doc_id FROM near) AS is_near_dup,
        |  NOT (i.doc_id IN (SELECT doc_id FROM ex)
        |    OR i.doc_id IN (SELECT doc_id FROM near)) AS keep
        |FROM documents i WHERE i.doc_id % 10 = 7 ORDER BY doc_id""".stripMargin

  /** D28/D28b shared oracle: the full manifest rebuild. */
  private val CorpusBuildSql =
    """WITH RECURSIVE
        |d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |  HAVING COUNT(*) >= 2),
        |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(u, r) AS (
        |  SELECT doc_id AS u, doc_id AS r FROM documents
        |  UNION
        |  SELECT und.dst AS u, reach.r FROM reach JOIN und ON reach.u = und.src),
        |comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u),
        |sz AS (SELECT component, COUNT(*) AS cluster_size
        |  FROM comp GROUP BY component),
        |qt AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks
        |  FROM documents),
        |qc AS (SELECT doc_id, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |      AS BIGINT) AS punct_cnt
        |  FROM qt),
        |qr AS (SELECT doc_id,
        |    CAST(stop_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
        |    CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
        |    CASE WHEN n_chars BETWEEN 100 AND 2000 THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS len_ok
        |  FROM qc),
        |q AS (SELECT doc_id,
        |    CAST(0.5 AS DOUBLE) * stop_ratio
        |      + CAST(0.3 AS DOUBLE) * (CAST(1 AS DOUBLE) - punct_ratio)
        |      + CAST(0.2 AS DOUBLE) * len_ok AS score
        |  FROM qr),
        |j AS (SELECT comp.doc_id, comp.component, sz.cluster_size, q.score
        |  FROM comp JOIN sz USING (component) JOIN q USING (doc_id)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY component
        |    ORDER BY score DESC, doc_id) AS rn FROM j),
        |reps AS (SELECT doc_id, component, cluster_size, score
        |  FROM r WHERE rn = 1),
        |exk AS (SELECT doc_id, lang, source, text FROM (
        |    SELECT doc_id, lang, source, text,
        |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |    FROM documents)
        |  WHERE doc_id = keep_id),
        |surv AS (SELECT exk.doc_id, exk.lang, exk.source, exk.text,
        |    reps.component, reps.cluster_size, reps.score
        |  FROM exk JOIN reps USING (doc_id)),
        |qd AS (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 + 1) * 5
        |      AS quota
        |  FROM surv),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY h, doc_id) AS BIGINT) AS rnk FROM qd),
        |sel AS (SELECT * FROM rk WHERE rnk <= quota),
        |pk AS (SELECT doc_id, source, lang, component, cluster_size, score,
        |    CAST(quota AS BIGINT) AS quota, rnk,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(doc_id % 8 AS BIGINT) AS bucket
        |  FROM sel)
        |SELECT doc_id, source, lang, component, cluster_size, score, quota,
        |  rnk, n_tokens, bucket,
        |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |  CAST((SUM(n_tokens) OVER w - 1) // 256 AS BIGINT) AS bin_id
        |FROM pk WINDOW w AS (PARTITION BY lang, bucket ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin


  // PQ geometry, shared with AnnOps so the oracle cannot drift.
  private val PqS = operators.AnnOps.PqS
  private val PqK = operators.AnnOps.PqK

  /** CTE chain for the PQ codebook build + final per-(vec, subspace)
    * assignment, replicating AnnOps.pqModel/pqAssign: `nSub` subspace
    * slices, PqK hash-spread seeds (k = rank by the shared
    * [[ivfSeedOrder]] — AnnOps.seedSpread's rule, r14), exact-integer
    * Lloyd mean, L2 via the dot identity, argmin ties → k asc. `p` prefixes
    * every CTE name so the chain can be embedded in queries whose own
    * CTEs use the bare names (ann_recall); requires a CTE `e` with
    * (vec_id, v::DOUBLE[]) in scope.
    */
  private def pqChainCtes(p: String, src: String = "e",
      nSub: Int = PqS): String = {
    val sd = 64 / nSub // embeddings are 64-dim (TESTDATA.md)
    s"""${p}sub AS MATERIALIZED (SELECT vec_id, s, list_slice(v, s*$sd+1, s*$sd+$sd) AS x
      |  FROM $src CROSS JOIN (SELECT unnest(range($nSub)) AS s) t),
      |${p}seed AS (SELECT s, CAST(ROW_NUMBER() OVER (PARTITION BY s
      |      ORDER BY $ivfSeedOrder) - 1 AS BIGINT) AS k, x AS cv
      |  FROM ${p}sub WHERE vec_id IN
      |    (SELECT vec_id FROM $src ORDER BY $ivfSeedOrder LIMIT $PqK)),
      |${p}s0 AS (SELECT ${p}sub.vec_id, ${p}sub.s, ${p}sub.x, ${p}seed.k,
      |    list_dot_product(x, x) - 2*list_dot_product(x, cv)
      |      + list_dot_product(cv, cv) AS d
      |  FROM ${p}sub JOIN ${p}seed ON ${p}sub.s = ${p}seed.s),
      |${p}a0 AS (SELECT vec_id, s, x, k FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d, k) AS rn FROM ${p}s0)
      |  WHERE rn = 1),
      |${p}cm AS (SELECT s, k, unnest(range(len(x))) AS pos, unnest(x) AS xv
      |  FROM ${p}a0),
      |${p}cx AS (SELECT s, k, pos,
      |    CAST(SUM(CAST(xv * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS xv
      |  FROM ${p}cm GROUP BY 1, 2, 3),
      |${p}ref AS MATERIALIZED (SELECT s, k, list(xv ORDER BY pos) AS cv FROM ${p}cx GROUP BY 1, 2),
      |${p}s1 AS (SELECT ${p}sub.vec_id, ${p}sub.s, ${p}ref.k,
      |    list_dot_product(x, x) - 2*list_dot_product(x, cv)
      |      + list_dot_product(cv, cv) AS d
      |  FROM ${p}sub JOIN ${p}ref ON ${p}sub.s = ${p}ref.s),
      |${p}a1 AS MATERIALIZED (SELECT vec_id, s, k, d FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d, k) AS rn FROM ${p}s1)
      |  WHERE rn = 1)""".stripMargin
  }

  /** The ADC stage on top of [[pqChainCtes]]: per-query distance
    * tables `qd`, the code words `codes`, and every (query, candidate)
    * approximate distance `adc0` (PqS lookups summed in s order, self
    * excluded). Same prefixing contract.
    */
  private def pqAdcChainCtes(p: String): String = {
    val codeSel = (0 until PqS)
      .map(i => s"MAX(CASE WHEN s = $i THEN k END) AS c$i").mkString(", ")
    val joins = (1 until PqS).map(i =>
      s"  JOIN ${p}qd q$i ON q$i.q_id = q0.q_id AND q$i.s = $i " +
      s"AND q$i.k = ${p}codes.c$i").mkString("\n")
    val dsum = (0 until PqS).map(i => s"q$i.d").mkString(" + ")
    s"""${p}qd AS (SELECT ${p}sub.vec_id AS q_id, ${p}sub.s, ${p}ref.k,
      |    list_dot_product(x, x) - 2*list_dot_product(x, cv)
      |      + list_dot_product(cv, cv) AS d
      |  FROM ${p}sub JOIN ${p}ref ON ${p}sub.s = ${p}ref.s
      |  WHERE ${p}sub.vec_id % 50 = 0),
      |${p}codes AS (SELECT vec_id AS c_id, $codeSel
      |  FROM ${p}a1 GROUP BY vec_id),
      |${p}adc0 AS (SELECT q0.q_id AS q_id, ${p}codes.c_id AS c_id,
      |    $dsum AS adc
      |  FROM ${p}codes
      |  JOIN ${p}qd q0 ON q0.s = 0 AND q0.k = ${p}codes.c0
      |$joins
      |  WHERE q0.q_id <> ${p}codes.c_id)""".stripMargin
  }

  /** The full residual IVF-PQ chain (the FAISS layout D33f replicates)
    * up to the per-(query, candidate) ADC distances `${p}adcres`
    * (q_id, c_id, adc): the ann_ivf quantizer build (first-DefaultM
    * seed, exact-integer Lloyd, nprobe probe assignment), float-
    * quantized centroids, residual source vectors, the [[pqChainCtes]]
    * book at `nSub` subspaces over residuals, per-probe query
    * residual distance tables, and the probed-list ADC sums. `p`
    * prefixes every CTE; requires `e` (vec_id, v::DOUBLE[]) in scope.
    */
  private def resChainCtes(p: String, nSub: Int): String = {
    val np = operators.AnnOps.IvfPqNprobe
    val m = operators.AnnOps.DefaultM
    val sd = 64 / nSub
    val codeSel = (0 until nSub)
      .map(i => s"MAX(CASE WHEN s = $i THEN k END) AS c$i").mkString(", ")
    val adcJoins = (1 until nSub).map(i =>
      s"  JOIN ${p}rqd q$i ON q$i.q_id = q0.q_id AND q$i.q_cid = a.cid " +
      s"AND q$i.s = $i AND q$i.k = ${p}rcodes.c$i").mkString("\n")
    val dsum = (0 until nSub).map(i => s"q$i.d").mkString(" + ")
    s"""${p}ren AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |${p}iseed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
      |  FROM ${p}ren ORDER BY $ivfSeedOrder LIMIT $m),
      |${p}is0 AS (SELECT ${p}ren.vec_id, ${p}ren.v, s.cid,
      |    list_dot_product(${p}ren.v, s.cv) / (${p}ren.nrm * s.cnrm) AS sim
      |  FROM ${p}ren, ${p}iseed s),
      |${p}ia1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ${p}is0)
      |  WHERE rn = 1),
      |${p}icm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
      |  FROM ${p}ia1),
      |${p}icx AS (SELECT cid, pos,
      |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
      |  FROM ${p}icm GROUP BY cid, pos),
      |${p}iref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM ${p}icx GROUP BY cid),
      |${p}iref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
      |  FROM ${p}iref),
      |${p}il0v AS (SELECT ${p}ren.vec_id, ${p}ren.v, r.cid,
      |    list_dot_product(${p}ren.v, r.cv) / (${p}ren.nrm * r.cnrm) AS sim
      |  FROM ${p}ren, ${p}iref2 r),
      |${p}iassign AS MATERIALIZED (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ${p}il0v)
      |  WHERE rn = 1),
      |${p}iqprobes AS MATERIALIZED (SELECT vec_id AS q_id, cid AS q_cid, v
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY sim DESC, cid) AS rn FROM ${p}il0v WHERE vec_id % 50 = 0)
      |  WHERE rn <= $np),
      |${p}cqv AS MATERIALIZED (SELECT cid, list_transform(cv,
      |    x -> floor(x*16777216.0 + 0.5)/16777216.0) AS cq FROM ${p}iref),
      |${p}rsrc AS MATERIALIZED (SELECT a.vec_id, list_transform(range(1, len(a.v)+1),
      |    i -> a.v[i] - cq[i]) AS v
      |  FROM ${p}iassign a JOIN ${p}cqv USING (cid)),
      |${pqChainCtes(s"${p}r", s"${p}rsrc", nSub)},
      |${p}rcodes AS MATERIALIZED (SELECT vec_id AS c_id, $codeSel FROM ${p}ra1 GROUP BY vec_id),
      |${p}qres AS MATERIALIZED (SELECT q_id, q_cid, list_transform(range(1, len(v)+1),
      |    i -> v[i] - cq[i]) AS rv
      |  FROM ${p}iqprobes JOIN ${p}cqv ON cid = q_cid),
      |${p}rqd AS MATERIALIZED (SELECT q_id, q_cid, qs.s, ${p}rref.k,
      |    list_dot_product(x, x) - 2*list_dot_product(x, cv)
      |      + list_dot_product(cv, cv) AS d
      |  FROM (SELECT q_id, q_cid, s,
      |      list_slice(rv, s*$sd+1, s*$sd+$sd) AS x
      |    FROM ${p}qres CROSS JOIN (SELECT unnest(range($nSub)) AS s) t) qs
      |  JOIN ${p}rref ON qs.s = ${p}rref.s),
      |${p}adcres AS MATERIALIZED (SELECT q0.q_id AS q_id, ${p}rcodes.c_id AS c_id,
      |    $dsum AS adc
      |  FROM ${p}rcodes
      |  JOIN ${p}iassign a ON a.vec_id = ${p}rcodes.c_id
      |  JOIN ${p}rqd q0 ON q0.q_cid = a.cid AND q0.s = 0 AND q0.k = ${p}rcodes.c0
      |$adcJoins
      |  WHERE q0.q_id <> ${p}rcodes.c_id)""".stripMargin
  }

  private val PqCtes =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      pqChainCtes("")

  private val PqAdcCtes = PqCtes + ",\n" + pqAdcChainCtes("")

  /** mod-2^64 poly fold (base 1000003) over the chars of column `c` —
    * the StrHash.hash64 pre-mix accumulator (functions/MinHash.scala),
    * ASCII corpus so ord(char) == byte.
    */
  private def strFold(c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
    s"list_transform(range(1, length($c)+1), " +
    s"i -> CAST(ord(substr($c, i, 1)) AS HUGEINT))), " +
    s"(acc, b) -> (${mulmod("acc", "1000003")} + b) % $M64)"

  /** D63's k threshold (shared with the operator). */
  private val KA = operators.CurationOps.KAnon

  /** D38c's tier oracle, shared verbatim by the D21c composition. */
  private def lmTiersSql: String =
    s"""WITH ls AS (${lmScoreSql(deltaOnly = false)}),
      |j AS (SELECT ls.*, d.lang FROM ls
      |  JOIN documents d ON ls.doc_id = d.doc_id),
      |c AS (SELECT lang,
      |    quantile_cont(bits_per_trans, ${operators.TextOps.TierLo})
      |      AS c_head,
      |    quantile_cont(bits_per_trans, ${operators.TextOps.TierHi})
      |      AS c_mid
      |  FROM j GROUP BY lang)
      |SELECT j.doc_id, j.lang, n_trans, bits_per_trans, c_head, c_mid,
      |  CASE WHEN bits_per_trans <= c_head THEN 'head'
      |    WHEN bits_per_trans <= c_mid THEN 'middle'
      |    ELSE 'tail' END AS tier
      |FROM j JOIN c ON j.lang = c.lang ORDER BY j.doc_id""".stripMargin

  /** D50's oracle, parameterized by an optional anchor predicate so
    * the session query ("") and the D36j served face (the anchor
    * restriction) share one STRUCTURAL definition — no string surgery
    * that could silently no-op if the SQL is reformatted.
    */
  private def docSimilarSql(anchorPred: String): String =
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      |  FROM d),
      |e AS (SELECT doc_id, lang, unnest(shingles) AS shingle FROM s),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |w AS (SELECT lang, shingle,
      |    (${operators.TextOps.SimilarW} * n_docs) // COUNT(*) AS w
      |  FROM e, n GROUP BY lang, shingle, n_docs
      |  HAVING COUNT(*) BETWEEN 2 AND ${operators.TextOps.SimilarDfCap}),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared,
      |    CAST(SUM(CAST(w.w AS HUGEINT)) AS DECIMAL(38,0)) AS score
      |  FROM e a
      |  JOIN w ON a.lang = w.lang AND a.shingle = w.shingle
      |  JOIN e b ON b.lang = w.lang AND b.shingle = w.shingle
      |    AND a.doc_id <> b.doc_id $anchorPred
      |  GROUP BY 1, 2),
      |r AS (SELECT a_id, b_id, n_shared, score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY a_id
      |      ORDER BY score DESC, b_id) AS BIGINT) AS rnk
      |  FROM p)
      |SELECT a_id, b_id, n_shared, CAST(score AS DOUBLE) AS score, rnk
      |FROM r
      |WHERE rnk <= ${operators.TextOps.SimilarK} ORDER BY a_id, rnk""".stripMargin

  /** D56's oracle: the SAME k greedy MMR steps the engine unrolls,
    * unrolled here as CTE chains — step i computes each remaining
    * candidate's max-similarity penalty against sel_{i−1}, applies
    * λ·rel − (1−λ)·pen, and picks the argmax (ties → c_id). Built
    * programmatically so engine k/R/λ changes move both sides.
    */
  private def annMmrSql: String = {
    val r = operators.AnnOps.MmrShort
    val k = operators.AnnOps.MmrK
    val lam = operators.AnnOps.MmrLambda
    val lamS = s"CAST($lam AS DOUBLE)"
    val lampS = s"CAST(${1.0 - lam} AS DOUBLE)"
    val steps = (2 to k).map { i =>
      s"""pen$i AS (SELECT ps.q_id, ps.a_id, MAX(ps.s) AS pen
         |  FROM ps JOIN sel${i - 1} sl ON ps.q_id = sl.q_id AND ps.b_id = sl.c_id
         |  GROUP BY 1, 2),
         |p$i AS (SELECT c.q_id, c.c_id, c.rel,
         |    $lamS * c.rel - $lampS * pen.pen AS mmr,
         |    CAST($i AS BIGINT) AS pick
         |  FROM cand c JOIN pen$i pen ON c.q_id = pen.q_id AND c.c_id = pen.a_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
         |    WHERE s2.q_id = c.q_id AND s2.c_id = c.c_id)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c.q_id
         |    ORDER BY mmr DESC, c.c_id) = 1),
         |sel$i AS (SELECT q_id, c_id, rel, mmr, pick FROM sel${i - 1}
         |  UNION ALL SELECT q_id, c_id, rel, mmr, pick FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
       |  WHERE vec_id % 50 = 0),
       |s0 AS (SELECT q_id, e.vec_id AS c_id,
       |    list_dot_product(qv, e.v) / (qn * e.nrm) AS rel
       |  FROM e, q WHERE q_id <> e.vec_id),
       |cand AS (SELECT q_id, c_id, rel FROM s0
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY rel DESC, c_id) <= $r),
       |ce AS (SELECT cand.q_id, cand.c_id, cand.rel, e.v, e.nrm
       |  FROM cand JOIN e ON cand.c_id = e.vec_id),
       |ps AS (SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
       |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS s
       |  FROM ce a JOIN ce b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
       |sel1 AS (SELECT q_id, c_id, rel, $lamS * rel AS mmr,
       |    CAST(1 AS BIGINT) AS pick FROM cand
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY rel DESC, c_id) = 1),
       |$steps
       |SELECT q_id, c_id, rel, mmr, pick FROM sel$k
       |ORDER BY q_id, pick""".stripMargin
  }

  /** B25's oracle — the same lead() windows and in-row predicate,
    * built programmatically so pattern/span changes move both sides.
    */
  private def PatternMatchSql: String = {
    val p = operators.EventOps.PatternSeq
    val spanMs = operators.EventOps.PatternMaxSpanMin.toLong * 60000L
    val last = p.length - 1
    val leads = (1 until p.length).map { i =>
      s"lead(event_type, $i) OVER w AS type_$i, " +
        s"lead(event_id, $i) OVER w AS id_$i, lead(ts, $i) OVER w AS ts_$i"
    }.mkString(",\n    ")
    val conds = (1 until p.length).map(i => s"type_$i = '${p(i)}'")
      .mkString(" AND ")
    val idCols = (1 until p.length).map(i => s"id_$i").mkString(", ")
    s"""WITH t AS (SELECT user_id, ts, event_id, event_type,
       |    $leads
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, event_id AS id_0, ts AS ts_0, $idCols,
       |  epoch_us(ts_$last) // 1000 - epoch_us(ts) // 1000 AS span_ms
       |FROM t WHERE event_type = '${p.head}' AND $conds
       |  AND epoch_us(ts_$last) // 1000 - epoch_us(ts) // 1000 <= $spanMs
       |ORDER BY user_id, id_0""".stripMargin
  }

  /** B29's oracle — the same lead() windows with the Kleene run
    * length as a chained CASE over the lead types and the terminator
    * columns as list lookups by run length; built from the SAME
    * pattern/bound constants as the operator.
    */
  private def PatternKleeneSql: String = {
    val Seq(a, b, c) = operators.EventOps.PatternSeq
    val maxRun = operators.EventOps.KleeneMaxRun
    val n = maxRun + 1
    val spanMs = operators.EventOps.PatternMaxSpanMin.toLong * 60000L
    val leads = (1 to n).map { i =>
      s"lead(event_type, $i) OVER w AS t$i, " +
        s"lead(event_id, $i) OVER w AS i$i, " +
        s"lead(epoch_us(ts) // 1000, $i) OVER w AS s$i"
    }.mkString(",\n    ")
    val runCase = (1 to n)
      .map(i => s"WHEN t$i IS NULL OR t$i <> '$b' THEN ${i - 1}")
      .mkString(" ")
    val tList = (1 to n).map(i => s"t$i").mkString(", ")
    val iList = (1 to n).map(i => s"i$i").mkString(", ")
    val sList = (1 to n).map(i => s"s$i").mkString(", ")
    s"""WITH t AS (SELECT user_id, ts, event_id, event_type,
       |    $leads
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |m AS (SELECT *, CASE $runCase ELSE $n END AS n_mid
       |  FROM t WHERE event_type = '$a'),
       |f AS (SELECT user_id, event_id AS id_0, ts AS ts_0,
       |    CAST(n_mid AS BIGINT) AS n_mid,
       |    [$tList][n_mid + 1] AS term,
       |    [$iList][n_mid + 1] AS id_last,
       |    [$sList][n_mid + 1] - epoch_us(ts) // 1000 AS span_ms
       |  FROM m WHERE n_mid BETWEEN 1 AND $maxRun)
       |SELECT user_id, id_0, ts_0, n_mid, id_last,
       |  CAST(span_ms AS BIGINT) AS span_ms
       |FROM f WHERE term = '$c' AND span_ms <= $spanMs
       |ORDER BY user_id, id_0""".stripMargin
  }

  /** B30's oracle — the pattern-spec compiler replicated by CONSUMPTION
    * ENUMERATION: each quantified step's bounded range makes the set of
    * consumption vectors finite, and the compiler's greedy-maximality
    * conditions (Opt c=0 ⇒ next is NOT the type; Plus c ⇒ position
    * pos+c is NOT the type, which encodes both maximality below the
    * bound and the ≤bound contract at it) make the vectors MUTUALLY
    * EXCLUSIVE — so the oracle is a plain UNION ALL over combos, each a
    * constant-position predicate over the same lead() columns. Built
    * from the SAME PatternSpecSteps/span constants as the operator.
    */
  private def PatternSpecSql: String = {
    import operators.{PatternQuant, PatternStep}
    val steps = operators.EventOps.PatternSpecSteps
    val spanMs = operators.EventOps.PatternMaxSpanMin.toLong * 60000L
    val nLeads = operators.EventOps.patternLeadWidth(steps)
    val leads = (1 to nLeads).map { i =>
      s"lead(event_type, $i) OVER w AS t$i, " +
        s"lead(event_id, $i) OVER w AS i$i, " +
        s"lead(epoch_us(ts) // 1000, $i) OVER w AS s$i"
    }.mkString(",\n|    ")
    // enumerate consumption vectors over the quantified tail steps
    def ranges(st: PatternStep): Seq[Int] = st.quant match {
      case PatternQuant.One => Seq(1)
      case PatternQuant.Opt => Seq(0, 1)
      case PatternQuant.Plus(k) => 1 to k
    }
    val combos = steps.tail.foldLeft(Seq(Seq.empty[Int])) { (acc, st) =>
      acc.flatMap(v => ranges(st).map(c => v :+ c))
    }
    def tAt(p: Int): String = if (p <= nLeads) s"t$p" else "NULL"
    val selects = combos.map { combo =>
      var pos = 1
      val conds = scala.collection.mutable.ArrayBuffer.empty[String]
      val nCols = scala.collection.mutable.ArrayBuffer.empty[String]
      steps.zipWithIndex.tail.zip(combo).foreach { case ((st, idx), c) =>
        st.quant match {
          case PatternQuant.One =>
            conds += s"${tAt(pos)} = '${st.tpe}'"
            pos += 1
          case PatternQuant.Opt =>
            if (c == 1) { conds += s"${tAt(pos)} = '${st.tpe}'"; pos += 1 }
            else conds += s"(${tAt(pos)} IS NULL OR ${tAt(pos)} <> '${st.tpe}')"
            nCols += s"CAST($c AS BIGINT) AS n_$idx"
          case PatternQuant.Plus(_) =>
            (0 until c).foreach(i => conds += s"${tAt(pos + i)} = '${st.tpe}'")
            conds += s"(${tAt(pos + c)} IS NULL OR ${tAt(pos + c)} <> '${st.tpe}')"
            nCols += s"CAST($c AS BIGINT) AS n_$idx"
            pos += c
        }
      }
      val endPos = pos - 1
      val cols = (Seq("user_id", "event_id AS id_0", "ts AS ts_0") ++
        nCols.toSeq ++ Seq(s"i$endPos AS id_last",
        s"CAST(s$endPos - epoch_us(ts) // 1000 AS BIGINT) AS span_ms"))
        .mkString(", ")
      s"""SELECT $cols FROM t
         |  WHERE event_type = '${steps.head.tpe}'
         |    AND ${conds.mkString("\n|    AND ")}
         |    AND s$endPos - epoch_us(ts) // 1000 <= $spanMs""".stripMargin
    }
    s"""WITH t AS (SELECT user_id, ts, event_id, event_type,
       |    $leads
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT * FROM (${selects.mkString("\n|UNION ALL\n|")})
       |ORDER BY user_id, id_0""".stripMargin
  }

  /** B25b's oracle — the same lead() windows with the negation CASE,
    * built from the same pattern constants.
    */
  private def PatternAbandonedSql: String = {
    val p = operators.EventOps.PatternSeq
    val prefix = p.init
    val next = p.last
    val spanMs = operators.EventOps.PatternMaxSpanMin.toLong * 60000L
    val nIdx = prefix.length
    val last = prefix.length - 1
    val leads = (1 to nIdx).map { i =>
      s"lead(event_type, $i) OVER w AS type_$i, " +
        s"lead(event_id, $i) OVER w AS id_$i, lead(ts, $i) OVER w AS ts_$i"
    }.mkString(",\n    ")
    val prefixConds = (1 to last).map(i => s"type_$i = '${prefix(i)}'")
    val prefixSpan =
      if (last == 0) "0"
      else s"epoch_us(ts_$last) // 1000 - epoch_us(ts) // 1000"
    val nextGap = s"epoch_us(ts_$nIdx) // 1000 - epoch_us(ts) // 1000"
    val whereConds = (s"event_type = '${prefix.head}'" +: prefixConds)
      .mkString(" AND ")
    s"""WITH t AS (SELECT user_id, ts, event_id, event_type,
       |    $leads
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |m AS (SELECT user_id, event_id AS id_0, ts AS ts_0,
       |    id_$last AS id_last,
       |    CASE WHEN type_$nIdx IS NULL THEN 'timeline_end'
       |      WHEN type_$nIdx <> '$next' THEN 'diverted'
       |      WHEN $nextGap > $spanMs THEN 'too_late'
       |      ELSE 'converted' END AS abandon_reason
       |  FROM t WHERE $whereConds AND $prefixSpan <= $spanMs)
       |SELECT user_id, id_0, ts_0, id_last, abandon_reason FROM m
       |WHERE abandon_reason <> 'converted'
       |ORDER BY user_id, id_0""".stripMargin
  }

  /** D13's oracle (and D13b's — star CC converges to the SAME
    * min-rooted components): recursive-CTE reachability closure,
    * min label per vertex.
    */
  private lazy val DedupClustersSql: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      |  FROM d),
      |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
      |    unnest(shingles) AS shingle FROM s),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
      |    AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
      |  HAVING COUNT(*) >= 2),
      |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |reach(u, r) AS (
      |  SELECT doc_id AS u, doc_id AS r FROM documents
      |  UNION
      |  SELECT und.dst AS u, reach.r FROM reach JOIN und ON reach.u = und.src),
      |comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u)
      |SELECT comp.doc_id, comp.component, sz.cluster_size
      |FROM comp JOIN (SELECT component, COUNT(*) AS cluster_size
      |  FROM comp GROUP BY component) sz USING (component)
      |ORDER BY doc_id""".stripMargin

  /** B26's oracle — the NAIVE theta join (no binning): DuckDB happily
    * nested-loops the range predicate at oracle scale, so a hash match
    * proves the bucket rewrite generates every true pair exactly once.
    * Built from the same window/threshold constants as the operator.
    */
  private def IncidentJoinSql: String = {
    val w = operators.EventOps.IncidentWindowMicros
    val vmin = operators.EventOps.IncidentValueMin
    s"""WITH inc AS (SELECT event_id AS incident_id, epoch_us(ts) AS s_us,
       |    epoch_us(ts) + $w AS e_us
       |  FROM events WHERE event_type = 'error' AND value > $vmin)
       |SELECT inc.incident_id, ev.event_type,
       |  count(*) AS n_events, count(DISTINCT ev.user_id) AS n_users
       |FROM inc JOIN events ev
       |  ON epoch_us(ev.ts) >= inc.s_us AND epoch_us(ev.ts) < inc.e_us
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** D59's oracle — the NB train/score algebra replicated with the
    * ql() integer-log macro: per-class token counts, add-one smoothed
    * Q10 weights, prior base, per-doc score fold, argmax by
    * (score desc, cls asc).
    */
  /** The simhash signature + band CTE chain (house kernel replicated
    * in HUGEINT SQL) ending at `sbands(doc_id, sig, k, v)` — shared by
    * D4's pair query and D75's recall row.
    */
  private def SimhashChainSql: String = {
    val p2 = (0 until 64).map(b => s"($b, ${BigInt(1) << b})").mkString(", ")
    val band = (0 until 4).map(k => s"($k, ${BigInt(1) << (k * 16)})").mkString(", ")
    s"""st AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents),
       |sh0 AS (SELECT doc_id, $TokFoldSql AS ph FROM st),
       |shh AS (SELECT doc_id, ${mix("ph")} AS hu FROM sh0),
       |sp2(b, p) AS (VALUES $p2),
       |svotes AS (SELECT doc_id, b,
       |    SUM(CASE WHEN (hu // p) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM shh CROSS JOIN sp2 GROUP BY doc_id, b),
       |ssigu AS (SELECT v.doc_id,
       |    SUM(CASE WHEN v.cnt > 0 THEN sp2.p ELSE CAST(0 AS HUGEINT) END) AS su
       |  FROM svotes v JOIN sp2 ON sp2.b = v.b GROUP BY v.doc_id),
       |ssig AS (SELECT doc_id, CAST(${signed64("su")} AS BIGINT) AS sig, su
       |  FROM ssigu),
       |sbd(k, p) AS (VALUES $band),
       |sbands AS (SELECT doc_id, sig, k,
       |    CAST((su // sbd.p) % 65536 AS BIGINT) AS v
       |  FROM ssig CROSS JOIN sbd)""".stripMargin
  }

  /** D10e's full oracle SQL, hoisted so D10f's tuner can wrap the
    * SAME curve in one more CTE — the two rows cannot drift apart.
    */
  /** The IVF coarse-quantizer chain replicated in SQL — first-16 seed
    * → one exact-integer Lloyd round → nprobe=1 inverted lists —
    * shared by ann_recall and the graph-family oracles so the two
    * cannot drift. Requires a CTE `e` (vec_id, v::DOUBLE[], nrm).
    */
  private def IvfListsCtes: String =
    s"""seed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
      |  FROM e ORDER BY $ivfSeedOrder LIMIT 16),
      |s0 AS (SELECT e.vec_id, e.v, s.cid,
      |    list_dot_product(e.v, s.cv) / (e.nrm * s.cnrm) AS sim
      |  FROM e, seed s),
      |a1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s0)
      |  WHERE rn = 1),
      |cm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
      |  FROM a1),
      |cx AS (SELECT cid, pos,
      |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
      |  FROM cm GROUP BY cid, pos),
      |ref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM cx GROUP BY cid),
      |ref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
      |  FROM ref),
      |l0 AS (SELECT e.vec_id, e.v, e.nrm, r.cid,
      |    list_dot_product(e.v, r.cv) / (e.nrm * r.cnrm) AS sim
      |  FROM e, ref2 r),
      |lists AS (SELECT cid AS c_cid, vec_id AS c_id, v AS cv2, nrm AS cn
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY sim DESC, cid) AS rn FROM l0) WHERE rn = 1)""".stripMargin

  /** D76's whole chain as CTEs — deterministic NN-descent build
    * (per-cell anchors, within-cell + anchor-edge init, GraphRounds
    * unrolled neighbor-of-neighbor rounds) and the beam walk
    * (bm0..bm_hops, plus per-hop top-10 CTEs gt_h for the recall
    * curve). Requires `e` and `lists` in scope. Every constant comes
    * from AnnOps so the oracle moves with the engine.
    */
  private def graphChainCtes: String = {
    val k = operators.AnnOps.GraphK
    val b = operators.AnnOps.GraphBeam
    val uCap = operators.AnnOps.GraphUCap
    val rounds = (1 to operators.AnnOps.GraphRounds).map { r =>
      val prev = s"g${r - 1}"
      s"""gud$r AS (SELECT src AS piv, dst AS memb, sim FROM $prev
         |  UNION SELECT dst AS piv, src AS memb, sim FROM $prev),
         |gu$r AS MATERIALIZED (SELECT piv, memb FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY piv ORDER BY sim DESC, memb)
         |      AS rn FROM gud$r) WHERE rn <= $uCap),
         |gpp$r AS (SELECT x.memb AS src, y.memb AS dst FROM gu$r x
         |  JOIN gu$r y ON x.piv = y.piv AND x.memb <> y.memb
         |  UNION SELECT src, dst FROM $prev),
         |gsc$r AS (SELECT p.src, p.dst,
         |    list_dot_product(es.v, ed.v) / (es.nrm * ed.nrm) AS sim
         |  FROM gpp$r p JOIN e es ON es.vec_id = p.src
         |  JOIN e ed ON ed.vec_id = p.dst),
         |g$r AS MATERIALIZED (SELECT src, dst, sim, rn AS rnk FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst)
         |      AS rn FROM gsc$r) WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    val hops = graphWalkCtes("", "gq", "gadj", "e")
    val tops = operators.AnnOps.RecallGraphHops.map { h =>
      s"""gt$h AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
         |      AS rn FROM bm$h WHERE c_id <> q_id) WHERE rn <= 10)""".stripMargin
    }.mkString(",\n")
    s"""gasg AS (SELECT vec_id, cid, sim FROM (SELECT vec_id, cid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)
       |      AS rn FROM l0) WHERE rn = 1),
       |ganch AS (SELECT cid AS c_cid, vec_id AS a_id FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim DESC, vec_id)
       |      AS arn FROM gasg) WHERE arn = 1),
       |ganchv AS MATERIALIZED (SELECT a.a_id, l.cv2 AS av, l.cn AS an
       |  FROM ganch a JOIN lists l ON l.c_id = a.a_id),
       |glr AS (SELECT c_cid, c_id, CAST((ROW_NUMBER() OVER
       |    (PARTITION BY c_cid ORDER BY cv2[1], c_id) - 1) AS INTEGER)
       |      // ${operators.AnnOps.GraphInitCap} AS rg FROM lists),
       |gbr AS (SELECT bucket, vec_id, CAST((ROW_NUMBER() OVER
       |    (PARTITION BY bucket ORDER BY v[1], vec_id) - 1) AS INTEGER)
       |      // ${operators.AnnOps.GraphInitCap} AS rg FROM b),
       |gc0 AS (SELECT a.c_id AS src, b2.c_id AS dst FROM glr a
       |  JOIN glr b2 ON a.c_cid = b2.c_cid AND a.rg = b2.rg
       |    AND a.c_id <> b2.c_id
       |  UNION SELECT x.vec_id AS src, y.vec_id AS dst FROM gbr x
       |  JOIN gbr y ON x.bucket = y.bucket AND x.rg = y.rg
       |    AND x.vec_id <> y.vec_id
       |  UNION SELECT e.vec_id AS src, v.a_id AS dst FROM e, ganchv v
       |  WHERE e.vec_id <> v.a_id),
       |gsc0 AS (SELECT p.src, p.dst,
       |    list_dot_product(es.v, ed.v) / (es.nrm * ed.nrm) AS sim
       |  FROM gc0 p JOIN e es ON es.vec_id = p.src
       |  JOIN e ed ON ed.vec_id = p.dst),
       |g0 AS MATERIALIZED (SELECT src, dst, sim, rn AS rnk FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst)
       |      AS rn FROM gsc0) WHERE rn <= $k),
       |$rounds,
       |gds AS (SELECT c_cid, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY c_cid ORDER BY cv2[1], c_id) - 1
       |      AS rn,
       |    COUNT(*) OVER (PARTITION BY c_cid) AS sz FROM lists),
       |gdl AS (SELECT g.a_id AS src, d.c_id AS dst FROM gds d
       |  JOIN ganch g ON d.c_cid = g.c_cid
       |  WHERE d.rn % ((d.sz + ${operators.AnnOps.GraphDownCap - 1})
       |      // ${operators.AnnOps.GraphDownCap}) = 0
       |    AND d.c_id <> g.a_id),
       |gadj AS (SELECT src, dst FROM g${operators.AnnOps.GraphRounds}
       |  UNION ALL SELECT src, dst FROM gdl),
       |gq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
       |  WHERE vec_id % 50 = 0),
       |$hops,
       |$tops""".stripMargin
  }

  /** A full unrolled beam walk as CTEs: `${p}bm0..${p}bm{hops}` over
    * adjacency `adjCte` (src, dst) from the ganchv anchors, queries
    * from `qCte` (q_id, qv, qn), candidate vectors looked up in
    * `vecCte` (vec_id, v, nrm). The main serve walk, the append
    * insert walk and the appended serve walk all come from this one
    * builder, so the walks cannot drift from each other.
    */
  private def graphWalkCtes(p: String, qCte: String, adjCte: String,
      vecCte: String,
      anchCte: String = "ganchv"): String = {
    // self NAVIGATES (r13): no per-hop self filter — a corpus query's
    // own node is the best seed (when the query IS its cell's anchor
    // its down-links are the cell's only entry point); consumers drop
    // c_id = q_id before their final top-k, mirroring the engine
    val b = operators.AnnOps.GraphBeam
    val hops = (1 to operators.AnnOps.GraphHops).map { h =>
      val prev = s"${p}bm${h - 1}"
      s"""${p}gbx$h AS (SELECT bb.q_id, g.dst AS c_id FROM $prev bb
         |  JOIN $adjCte g ON g.src = bb.c_id
         |  UNION SELECT q_id, c_id FROM $prev),
         |${p}gbs$h AS (SELECT pr.q_id, pr.c_id,
         |    list_dot_product(q.qv, ec.v) / (q.qn * ec.nrm) AS sim
         |  FROM ${p}gbx$h pr JOIN $qCte q ON q.q_id = pr.q_id
         |  JOIN $vecCte ec ON ec.vec_id = pr.c_id),
         |${p}bm$h AS MATERIALIZED (SELECT q_id, c_id, sim FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
         |      AS rn FROM ${p}gbs$h) WHERE rn <= $b)""".stripMargin
    }.mkString(",\n")
    s"""${p}gbs0 AS (SELECT q.q_id, v.a_id AS c_id,
       |    list_dot_product(q.qv, v.av) / (q.qn * v.an) AS sim
       |  FROM $qCte q, $anchCte v),
       |${p}bm0 AS MATERIALIZED (SELECT q_id, c_id, sim FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
       |      AS rn FROM ${p}gbs0) WHERE rn <= $b),
       |$hops""".stripMargin
  }

  /** D76e's walk: the SAME hop unrolling ordered by ADC (the query's
    * subspace distance tables against the codes riding the adjacency)
    * — requires the graph chain (g_R, ganch), the pq chain (padc0 =
    * all-pairs ADC for the %50 queries) in scope. Emits pbm0..pbm_H.
    */
  /** The self-pair ADC rows the shared `${p}adc0` excludes, plus the
    * union `${p}adcg` the PQ-navigated walk reads: self navigates
    * (r13, same rule as the vector walk) — its ADC ≈ 0 seeds the beam
    * — and the exact re-rank drops it from results.
    */
  private def pqAdcSelfCtes(p: String): String = {
    val joins = (1 until PqS).map(i =>
      s"  JOIN ${p}qd q$i ON q$i.q_id = q0.q_id AND q$i.s = $i " +
      s"AND q$i.k = ${p}codes.c$i").mkString("\n")
    val dsum = (0 until PqS).map(i => s"q$i.d").mkString(" + ")
    s"""${p}adcs AS (SELECT q0.q_id AS q_id, ${p}codes.c_id AS c_id,
       |    $dsum AS adc
       |  FROM ${p}codes
       |  JOIN ${p}qd q0 ON q0.s = 0 AND q0.k = ${p}codes.c0
       |$joins
       |  WHERE q0.q_id = ${p}codes.c_id),
       |${p}adcg AS (SELECT q_id, c_id, adc FROM ${p}adc0
       |  UNION ALL SELECT q_id, c_id, adc FROM ${p}adcs)""".stripMargin
  }

  private def graphPqWalkCtes: String = {
    val b = operators.AnnOps.GraphPqBeam
    val hops = (1 to operators.AnnOps.GraphHops).map { h =>
      val prev = s"pbm${h - 1}"
      s"""pbx$h AS (SELECT bb.q_id, g.dst AS c_id FROM $prev bb
         |  JOIN gadj g ON g.src = bb.c_id
         |  UNION SELECT q_id, c_id FROM $prev),
         |pbs$h AS (SELECT pr.q_id, pr.c_id, a.adc
         |  FROM pbx$h pr JOIN padcg a ON a.q_id = pr.q_id
         |    AND a.c_id = pr.c_id),
         |pbm$h AS MATERIALIZED (SELECT q_id, c_id, adc FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id)
         |      AS rn FROM pbs$h) WHERE rn <= $b)""".stripMargin
    }.mkString(",\n")
    s"""pbs0 AS (SELECT a.q_id, a.c_id, a.adc FROM padcg a
       |  JOIN ganch g ON a.c_id = g.a_id),
       |pbm0 AS MATERIALIZED (SELECT q_id, c_id, adc FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id)
       |      AS rn FROM pbs0) WHERE rn <= $b),
       |$hops""".stripMargin
  }

  /** D76e's oracle: the graph chain + the PQ ADC chain + the
    * ADC-navigated walk + exact re-rank of the final beam.
    */
  private def AnnGraphPqSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
       |$IvfListsCtes,
       |$graphChainCtes,
       |${pqChainCtes("p")},
       |${pqAdcChainCtes("p")},
       |${pqAdcSelfCtes("p")},
       |$graphPqWalkCtes,
       |px AS (SELECT pb.q_id, pb.c_id,
       |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
       |  FROM pbm${operators.AnnOps.GraphHops} pb
       |  JOIN e q ON q.vec_id = pb.q_id JOIN e c ON c.vec_id = pb.c_id
       |  WHERE pb.c_id <> pb.q_id),
       |fr AS (SELECT q_id, c_id, sim, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
       |  FROM px)
       |SELECT q_id, c_id, sim, rnk FROM fr WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin

  /** D76d's oracle: the base chain + the incremental insert — delta
    * twins (id + offset, each component + eps), one walk per arrival
    * for out-edges, reverse-edge merge into the touched nodes' top-K,
    * untouched rows carried — then the %50 queries walk the GROWN
    * graph (vector lookup = corpus ∪ delta). Every constant from
    * AnnOps.
    */
  private def AnnGraphAppendedSql: String = {
    val k = operators.AnnOps.GraphK
    val h = operators.AnnOps.GraphHops
    val r = operators.AnnOps.GraphRounds
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
       |$IvfListsCtes,
       |$graphChainCtes,
       |gdelta0 AS (SELECT vec_id + ${operators.AnnOps.GraphAppendIdOffset}
       |    AS vec_id,
       |    list_transform(v, x -> x + ${operators.AnnOps.GraphAppendEps}) AS v
       |  FROM e WHERE vec_id % 10 = 0),
       |gdelta AS MATERIALIZED (SELECT vec_id, v,
       |    sqrt(list_dot_product(v, v)) AS nrm FROM gdelta0),
       |gdq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM gdelta),
       |${graphWalkCtes("d", "gdq", "gadj", "e")},
       |dnew AS MATERIALIZED (SELECT q_id AS src, c_id AS dst, sim,
       |    rn AS rnk FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, c_id) AS rn FROM dbm$h) WHERE rn <= $k),
       |grev AS (SELECT dst AS src, src AS dst, sim FROM dnew),
       |gtouch AS (SELECT DISTINCT src FROM grev),
       |gmerged AS (SELECT src, dst, sim, rn AS rnk FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst)
       |      AS rn FROM (SELECT g.src, g.dst, g.sim FROM g$r g
       |        JOIN gtouch t ON g.src = t.src
       |      UNION ALL SELECT src, dst, sim FROM grev))
       |  WHERE rn <= $k),
       |gapp AS MATERIALIZED (SELECT src, dst FROM g$r
       |    WHERE src NOT IN (SELECT src FROM gtouch)
       |  UNION ALL SELECT src, dst FROM gmerged
       |  UNION ALL SELECT src, dst FROM dnew),
       |gall AS MATERIALIZED (SELECT vec_id, v, nrm FROM e
       |  UNION ALL SELECT vec_id, v, nrm FROM gdelta),
       |gappd AS (SELECT src, dst FROM gapp
       |  UNION ALL SELECT src, dst FROM gdl),
       |${graphWalkCtes("a", "gq", "gappd", "gall")},
       |fr AS (SELECT q_id, c_id, sim, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
       |  FROM abm$h WHERE c_id <> q_id)
       |SELECT q_id, c_id, sim, rnk FROM fr WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** D76b's oracle (also layout_ann_graph's): the beam walk over the
    * graph — anchors → GraphHops expansions → exact top-10 of the
    * final beam.
    */
  private def AnnGraphSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
       |$IvfListsCtes,
       |$graphChainCtes,
       |fr AS (SELECT q_id, c_id, sim, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
       |  FROM bm${operators.AnnOps.GraphHops} WHERE c_id <> q_id)
       |SELECT q_id, c_id, sim, rnk FROM fr WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin

  /** D76f's oracle: the graph chain + the SAME walk unrolling with
    * anchors and every hop's expansion targets restricted to
    * label-matching nodes (the predicate lives BEFORE the beam heap,
    * exactly like the engine's filteredGraph).
    */
  private def AnnGraphFilteredSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |el AS (SELECT vec_id FROM embeddings WHERE label <> 0),
       |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
       |$IvfListsCtes,
       |$graphChainCtes,
       |fanchv AS (SELECT a.a_id, a.av, a.an FROM ganchv a
       |  JOIN el ON el.vec_id = a.a_id),
       |fadj AS (SELECT g.src, g.dst FROM gadj g
       |  JOIN el ON el.vec_id = g.dst),
       |${graphWalkCtes("f", "gq", "fadj", "e", anchCte = "fanchv")},
       |ffr AS (SELECT q_id, c_id, sim, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
       |  FROM fbm${operators.AnnOps.GraphHops} WHERE c_id <> q_id)
       |SELECT q_id, c_id, sim, rnk, 'graph' AS path
       |FROM ffr WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin

  private def AnnRecallSql: String = {
      val probesAll = Seq("bucket", "xor(bucket, 1)", "xor(bucket, 2)",
        "xor(bucket, 4)", "xor(bucket, 8)")
      val lshCtes = AnnOps.RecallLshProbes.map { p =>
        val arr = probesAll.take(p).mkString("[", ", ", "]")
        s"""lq$p AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, probe
           |  FROM b, unnest($arr) t(probe) WHERE vec_id % 50 = 0),
           |ls$p AS (SELECT q_id, c.vec_id AS c_id,
           |    list_dot_product(qv, c.v) / (qn * c.nrm) AS sim
           |  FROM b c JOIN lq$p ON lq$p.probe = c.bucket AND lq$p.q_id <> c.vec_id),
           |lt$p AS (SELECT q_id, c_id FROM (SELECT *, ROW_NUMBER() OVER
           |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM ls$p)
           |  WHERE rnk <= 10)""".stripMargin
      }.mkString(",\n")
      val ivfCtes = AnnOps.RecallIvfNprobes.map { np =>
        s"""ip$np AS (SELECT q_cid, q_id, qv, qn FROM l0q WHERE rn <= $np),
           |is$np AS (SELECT q_id, c_id,
           |    list_dot_product(qv, cv2) / (qn * cn) AS sim
           |  FROM lists JOIN ip$np ON q_cid = c_cid AND q_id <> c_id),
           |it$np AS (SELECT q_id, c_id FROM (SELECT *, ROW_NUMBER() OVER
           |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM is$np)
           |  WHERE rnk <= 10)""".stripMargin
      }.mkString(",\n")
      // PQ re-rank curve: ADC rank over all candidates once (pq_sl),
      // then per shortlist depth R an exact-cosine top-10 (exs is the
      // all-pairs exact sim table already built for the baseline)
      val pqCtes = "pq_sl AS (SELECT q_id, c_id, ROW_NUMBER() OVER " +
        "(PARTITION BY q_id ORDER BY adc, c_id) AS arnk FROM padc0),\n" +
        AnnOps.RecallPqR.map { rr =>
          s"""pt$rr AS (SELECT q_id, c_id FROM (
             |  SELECT s.q_id, s.c_id, ROW_NUMBER() OVER (PARTITION BY s.q_id
             |      ORDER BY x.sim DESC, s.c_id) AS rnk
             |  FROM pq_sl s JOIN exs x ON x.q_id = s.q_id AND x.c_id = s.c_id
             |  WHERE s.arnk <= $rr) WHERE rnk <= 10)""".stripMargin
        }.mkString(",\n")
      // ivfpq curve: probed-list candidates ∩ padc0, ADC shortlist at
      // fixed R, exact top-10 — annIvfPq's two stages per nprobe
      val ivfpqCtes = AnnOps.RecallIvfPqNprobes.map { np =>
        s"""ic$np AS (SELECT a.q_id, a.c_id, a.adc FROM padc0 a
           |  JOIN l0q p ON p.q_id = a.q_id AND p.rn <= $np
           |  JOIN lists l ON l.c_id = a.c_id AND l.c_cid = p.q_cid),
           |ipq$np AS (SELECT q_id, c_id FROM (
           |  SELECT c.q_id, c.c_id, ROW_NUMBER() OVER (PARTITION BY c.q_id
           |      ORDER BY x.sim DESC, c.c_id) AS rnk
           |  FROM (SELECT q_id, c_id FROM (SELECT q_id, c_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id)
           |        AS arnk FROM ic$np) WHERE arnk <= ${AnnOps.IvfPqR}) c
           |  JOIN exs x ON x.q_id = c.q_id AND x.c_id = c.c_id)
           |  WHERE rnk <= 10)""".stripMargin
      }.mkString(",\n")
      // ivfsq curve (r12): probed-list candidates ∩ zs (the SQ8 ADC
      // table), ADC shortlist at fixed R (DESC — SQ8's ADC
      // approximates the dot), exact top-10 — annIvfSq's two stages
      // per nprobe
      val ivfsqCtes = AnnOps.RecallIvfSqNprobes.map { np =>
        s"""iq$np AS (SELECT a.q_id, a.c_id, a.adc FROM zs a
           |  JOIN l0q p ON p.q_id = a.q_id AND p.rn <= $np
           |  JOIN lists l ON l.c_id = a.c_id AND l.c_cid = p.q_cid),
           |izt$np AS (SELECT q_id, c_id FROM (
           |  SELECT c.q_id, c.c_id, ROW_NUMBER() OVER (PARTITION BY c.q_id
           |      ORDER BY x.sim DESC, c.c_id) AS rnk
           |  FROM (SELECT q_id, c_id FROM (SELECT q_id, c_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id)
           |        AS arnk FROM iq$np) WHERE arnk <= ${AnnOps.IvfSqR}) c
           |  JOIN exs x ON x.q_id = c.q_id AND x.c_id = c.c_id)
           |  WHERE rnk <= 10)""".stripMargin
      }.mkString(",\n")
      // residual ADC-order points: the ${p}adcres distances of the
      // full residual chain (8- and 16-subspace books), top-10 by pure
      // ADC order — no re-rank slack, code fidelity only
      val resCtes = AnnOps.RecallResAdcSubs.map { ns =>
        s"""${resChainCtes(s"v$ns", ns)},
           |vt$ns AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id)
           |      AS arnk FROM v${ns}adcres) WHERE arnk <= 10)""".stripMargin
      }.mkString(",\n")
      // RP re-rank curve: projected-cosine rank over all candidates
      // once (ws), then per shortlist depth R an exact-cosine top-10
      val rpCtes = rpChainCtes("w") + ",\n" +
        operators.AnnOps.RecallRpR.map { rr =>
          s"""wt$rr AS (SELECT q_id, c_id FROM (
             |  SELECT s.q_id, s.c_id, ROW_NUMBER() OVER (PARTITION BY s.q_id
             |      ORDER BY x.sim DESC, s.c_id) AS rnk
             |  FROM ws s JOIN exs x ON x.q_id = s.q_id AND x.c_id = s.c_id
             |  WHERE s.arnk <= $rr) WHERE rnk <= 10)""".stripMargin
        }.mkString(",\n")
      // SQ8 points: ADC-order top-10 (code fidelity, no re-rank
      // slack) and the production two-stage R-shortlist re-rank
      val sq8Points =
        s"""${sq8Ctes("z")},
           |zt AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY adc DESC, c_id) AS rnk FROM zs) WHERE rnk <= 10),
           |zsl AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY adc DESC, c_id) AS arnk FROM zs)
           |  WHERE arnk <= ${AnnOps.Sq8RerankR}),
           |zrt AS (SELECT q_id, c_id FROM (SELECT s.q_id, s.c_id,
           |    ROW_NUMBER() OVER (PARTITION BY s.q_id
           |      ORDER BY x.sim DESC, s.c_id) AS rnk
           |  FROM zsl s JOIN exs x ON x.q_id = s.q_id AND x.c_id = s.c_id)
           |  WHERE rnk <= 10)""".stripMargin
      val unions = (AnnOps.RecallLshProbes.map(p =>
        s"SELECT 'lsh' AS method, CAST($p AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM lt$p JOIN ex ON lt$p.q_id = ex.q_id " +
        s"AND lt$p.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallIvfNprobes.map(np =>
        s"SELECT 'ivf' AS method, CAST($np AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM it$np JOIN ex ON it$np.q_id = ex.q_id " +
        s"AND it$np.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallPqR.map(rr =>
        s"SELECT 'pq' AS method, CAST($rr AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM pt$rr JOIN ex ON pt$rr.q_id = ex.q_id " +
        s"AND pt$rr.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallIvfPqNprobes.map(np =>
        s"SELECT 'ivfpq' AS method, CAST($np AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM ipq$np JOIN ex ON ipq$np.q_id = ex.q_id " +
        s"AND ipq$np.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallIvfSqNprobes.map(np =>
        s"SELECT 'ivfsq' AS method, CAST($np AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM izt$np JOIN ex ON izt$np.q_id = ex.q_id " +
        s"AND izt$np.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallResAdcSubs.map(ns =>
        s"SELECT 'res_adc' AS method, CAST($ns AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM vt$ns JOIN ex ON vt$ns.q_id = ex.q_id " +
        s"AND vt$ns.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallRpR.map(rr =>
        s"SELECT 'rp' AS method, CAST($rr AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM wt$rr JOIN ex ON wt$rr.q_id = ex.q_id " +
        s"AND wt$rr.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallGraphHops.map(h =>
        s"SELECT 'graph' AS method, CAST($h AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM gt$h JOIN ex ON gt$h.q_id = ex.q_id " +
        s"AND gt$h.c_id = ex.c_id) AS hits") ++
       AnnOps.RecallGraphHops.map(h =>
        s"SELECT 'graph_pq' AS method, CAST($h AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM gpt$h JOIN ex ON gpt$h.q_id = ex.q_id " +
        s"AND gpt$h.c_id = ex.c_id) AS hits") ++
       Seq(
        s"SELECT 'sq8_adc' AS method, CAST(10 AS BIGINT) AS param, " +
        s"(SELECT COUNT(*) FROM zt JOIN ex ON zt.q_id = ex.q_id " +
        s"AND zt.c_id = ex.c_id) AS hits",
        s"SELECT 'sq8' AS method, CAST(${AnnOps.Sq8RerankR} AS BIGINT) " +
        s"AS param, (SELECT COUNT(*) FROM zrt JOIN ex ON zrt.q_id = ex.q_id " +
        s"AND zrt.c_id = ex.c_id) AS hits")).mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
         |$lshCtes,
         |$IvfListsCtes,
         |l0q AS (SELECT cid AS q_cid, vec_id AS q_id, v AS qv, nrm AS qn, rn
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cid) AS rn FROM l0 WHERE vec_id % 50 = 0)),
         |$ivfCtes,
         |exs AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
         |  FROM e c, e q WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |ex AS (SELECT q_id, c_id FROM (SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM exs)
         |  WHERE rnk <= 10),
         |${pqChainCtes("p")},
         |${pqAdcChainCtes("p")},
         |$pqCtes,
         |$ivfpqCtes,
         |$resCtes,
         |$rpCtes,
         |$sq8Points,
         |$ivfsqCtes,
         |$graphChainCtes,
         |${pqAdcSelfCtes("p")},
         |$graphPqWalkCtes,
         |${AnnOps.RecallGraphHops.map(h =>
             s"""gpt$h AS (SELECT q_id, c_id FROM (SELECT pb.q_id, pb.c_id,
                |    ROW_NUMBER() OVER (PARTITION BY pb.q_id
                |      ORDER BY x.sim DESC, pb.c_id) AS rnk
                |  FROM pbm$h pb
                |  JOIN exs x ON x.q_id = pb.q_id AND x.c_id = pb.c_id)
                |  WHERE rnk <= 10)""".stripMargin).mkString(",\n")},
         |hu AS ($unions)
         |SELECT method, param, hits,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
         |  CAST(hits AS DOUBLE) / (SELECT COUNT(*) FROM ex) AS recall
         |FROM hu ORDER BY method, param""".stripMargin
  }

  /** The stopword-profile hit-count columns, argmax input list and
    * tie-break CASE, all GENERATED from `TextOps.LangProfiles` (the
    * deployed constants) — the same derive-from-shared-constants
    * device as PatternKleeneSql, so editing a profile can never drift
    * the oracle (ADVICE r11). The CASE order mirrors `predLangCol`'s
    * first-profile-wins tie-break.
    */
  private def langCountColsSql(castBigint: Boolean): String =
    operators.TextOps.LangProfiles.map { case (l, ws) =>
      val e = s"len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(",")})))"
      (if (castBigint) s"CAST($e AS BIGINT)" else e) + s" AS c_$l"
    }.mkString(",\n|    ")

  private def langGreatestSql: String =
    s"greatest($langCountNamesSql)"

  private def langCountNamesSql: String =
    operators.TextOps.LangProfiles.map(p => s"c_${p._1}").mkString(", ")

  private def langArgmaxCaseSql(mx: String): String =
    operators.TextOps.LangProfiles.map { case (l, _) =>
      s"WHEN c_$l = $mx THEN '$l'"
    }.mkString("CASE ", "\n|      ", " ELSE 'und' END")

  private def ClassifyLangSql: String =
    // `lang` here is D59's TEXT-DERIVED weak label (the D7
    // stopword-profile argmax), not the generator column — the r11
    // label-honesty change; downstream CTEs are label-source-agnostic
    s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS toks
       |    FROM documents),
       |dc AS (SELECT doc_id, toks,
       |    ${langCountColsSql(castBigint = false)}
       |  FROM d0),
       |dm AS (SELECT *, $langGreatestSql AS mx FROM dc),
       |d AS (SELECT doc_id,
       |    ${langArgmaxCaseSql("mx")} AS lang, toks
       |  FROM dm),
       |tr AS (SELECT * FROM d WHERE doc_id % 10 != 7),
       |te AS (SELECT * FROM d WHERE doc_id % 10 = 7),
       |cc AS (SELECT cls, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT lang AS cls, unnest(toks) AS tok FROM tr)
       |  GROUP BY 1, 2),
       |ns AS (SELECT cls, CAST(sum(c) AS BIGINT) AS n_s FROM cc GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cc),
       |nd AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS nd
       |  FROM tr GROUP BY 1),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS nd_tot FROM tr),
       |cl AS (SELECT cls, ${ql("nd")} - ${ql("nd_tot")} AS base_q10,
       |    ${ql("n_s + v")} AS pen_q10
       |  FROM nd CROSS JOIN nt JOIN ns USING (cls) CROSS JOIN vv),
       |w AS (SELECT cls, tok, ${ql("c + 1")} AS lc_q10 FROM cc),
       |m AS (SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS m
       |  FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM te)
       |  GROUP BY 1, 2, 3),
       |sc AS (SELECT m.doc_id, m.lang, cl.cls, cl.base_q10 +
       |    CAST(sum(m.m * (coalesce(w.lc_q10, 0) - cl.pen_q10)) AS BIGINT)
       |    AS score_q10
       |  FROM m CROSS JOIN cl
       |  LEFT JOIN w ON w.cls = cl.cls AND w.tok = m.tok
       |  GROUP BY 1, 2, 3, cl.base_q10),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score_q10 DESC, cls) AS rn FROM sc)
       |SELECT doc_id, cls AS pred_lang, score_q10, lang AS true_lang,
       |  cls = lang AS correct
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** D58b's oracle (also layout_ann_sq8's — the served face must
    * hash-match the session index, proving the persisted codes
    * lossless): ADC R-shortlist → exact-cosine re-rank.
    */
  private def Sq8RerankSql: String =
    s"""WITH $Sq8CommonSql,
       |short AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, c_id) AS arnk FROM s)
       |  WHERE arnk <= ${operators.AnnOps.Sq8RerankR}),
       |x AS (SELECT short.q_id, short.c_id,
       |    list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS sim
       |  FROM short JOIN q ON short.q_id = q.q_id
       |  JOIN e ON short.c_id = e.vec_id),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM x)
       |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin

  /** D60's oracle — the ±1 sign matrix generated from the SAME
    * splitmix64 kernel at oracle-build time and baked in as 16
    * literal arrays; projected cosine prefilter, exact re-rank.
    */
  /** The RP projection chain assuming CTE `e` (vec_id, v, nrm)
    * exists: projected vectors → projected-cosine sims with an arnk
    * rank column (`${p}s`) — prefix-parameterized so ann_recall can
    * splice it in without CTE-name collisions.
    */
  private def rpChainCtes(p: String): String = {
    val signs = operators.AnnOps.rpSigns()
    val projList = signs.map(row =>
      "list_dot_product(v, [" +
        row.map(x => if (x < 0) "-1.0" else "1.0").mkString(", ") + "])")
      .mkString("[", ",\n    ", "]")
    s"""${p}p AS (SELECT vec_id, $projList AS pv FROM e),
       |${p}pn AS (SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pn
       |  FROM ${p}p),
       |${p}q AS (SELECT vec_id AS q_id, pv AS qpv, pn AS qn FROM ${p}pn
       |  WHERE vec_id % 50 = 0),
       |${p}s AS (SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY psim DESC, c_id) AS arnk
       |  FROM (SELECT q_id, c.vec_id AS c_id,
       |      list_dot_product(qpv, c.pv) / (qn * c.pn) AS psim
       |    FROM ${p}pn c, ${p}q WHERE q_id <> c.vec_id))""".stripMargin
  }

  private def RpPrefilterSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |${rpChainCtes("")},
       |short AS (SELECT q_id, c_id FROM s
       |  WHERE arnk <= ${operators.AnnOps.RpRerankR}),
       |qq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn2 FROM e
       |  WHERE vec_id % 50 = 0),
       |x AS (SELECT short.q_id, short.c_id,
       |    list_dot_product(qq.qv, e.v) / (qq.qn2 * e.nrm) AS sim
       |  FROM short JOIN qq ON short.q_id = qq.q_id
       |  JOIN e ON short.c_id = e.vec_id),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM x)
       |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin

  /** The SQ8 chain (model → codes → ADC scores) assuming CTE `e`
    * (vec_id, v, nrm) exists; prefix-parameterized so ann_recall can
    * splice it in without CTE-name collisions. Arithmetic shape pinned
    * to the operator's (see AnnOps.sq8Codes/sq8Dequant) so doubles
    * match bit-for-bit.
    */
  private def sq8Ctes(p: String): String =
    s"""${p}dm AS (SELECT i, min(v[i]) AS mn, max(v[i]) - min(v[i]) AS dl
       |  FROM e, unnest(generate_series(1, len(v))) t(i) GROUP BY i),
       |${p}m AS (SELECT list(mn ORDER BY i) AS mn, list(dl ORDER BY i) AS dl
       |  FROM ${p}dm),
       |${p}c AS (SELECT vec_id, list_transform(generate_series(1, len(v)),
       |    i -> CASE WHEN dl[i] = 0.0 THEN 0
       |      ELSE CAST(least(255, floor((v[i] - mn[i]) * 256.0 / dl[i]))
       |        AS BIGINT) END) AS codes
       |  FROM e, ${p}m),
       |${p}q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
       |  WHERE vec_id % 50 = 0),
       |${p}s AS (SELECT q_id, c.vec_id AS c_id,
       |    list_dot_product(qv, list_transform(generate_series(1, len(codes)),
       |      i -> mn[i] + (codes[i] + 0.5) * dl[i] / 256.0)) AS adc
       |  FROM ${p}c c, ${p}q, ${p}m WHERE q_id <> c.vec_id)""".stripMargin

  /** D58/D58b's shared CTE chain: embeddings → the SQ8 chain with the
    * historical unprefixed names. */
  private def Sq8CommonSql: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |""".stripMargin + sq8Ctes("")

  /** D53b/D53c's shared oracle (the ann_ivf Lloyd chain + the label
    * predicate) — the session IVF arm and the layout-served face must
    * hash-match the same definition.
    */
  private def AnnFilteredIvfSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |seed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
      |  FROM e ORDER BY $ivfSeedOrder LIMIT 16),
      |s0 AS (SELECT e.vec_id, e.v, s.cid,
      |    list_dot_product(e.v, s.cv) / (e.nrm * s.cnrm) AS sim
      |  FROM e, seed s),
      |a1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s0)
      |  WHERE rn = 1),
      |cm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
      |  FROM a1),
      |cx AS (SELECT cid, pos,
      |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
      |  FROM cm GROUP BY cid, pos),
      |ref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM cx GROUP BY cid),
      |ref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
      |  FROM ref),
      |l0 AS (SELECT e.vec_id, e.label, e.v, e.nrm, r.cid,
      |    list_dot_product(e.v, r.cv) / (e.nrm * r.cnrm) AS sim
      |  FROM e, ref2 r),
      |lists AS (SELECT cid AS c_cid, vec_id AS c_id, label AS c_label,
      |    v AS cv2, nrm AS cn
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY sim DESC, cid) AS rn FROM l0) WHERE rn = 1),
      |probes AS (SELECT cid AS q_cid, vec_id AS q_id, v AS qv, nrm AS qn
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY sim DESC, cid) AS rn FROM l0 WHERE vec_id % 50 = 0)
      |  WHERE rn <= 4),
      |sc AS (SELECT q_id, c_id, list_dot_product(qv, cv2) / (qn * cn) AS sim
      |  FROM lists JOIN probes ON q_cid = c_cid AND q_id <> c_id
      |    AND c_label <> 0),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM sc)
      |SELECT q_id, c_id, sim, rnk, 'ivf' AS path FROM r WHERE rnk <= 10
      |ORDER BY q_id, rnk""".stripMargin

  /** D54/D54b's shared oracle — session fusion and the layout-served
    * face hash-match the same definition.
    */
  private def DocSimilarRrfSqlShared: String =
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |s AS (SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      |  FROM d),
      |e AS (SELECT doc_id, lang, unnest(shingles) AS shingle FROM s),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |w AS (SELECT lang, shingle,
      |    (${operators.TextOps.SimilarW} * n_docs) // COUNT(*) AS w
      |  FROM e, n GROUP BY lang, shingle, n_docs
      |  HAVING COUNT(*) BETWEEN 2 AND ${operators.TextOps.SimilarDfCap}),
      |cnt AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
      |  FROM e JOIN w ON e.lang = w.lang AND e.shingle = w.shingle
      |  GROUP BY e.doc_id),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared,
      |    CAST(SUM(CAST(w.w AS HUGEINT)) AS DECIMAL(38,0)) AS s_idf
      |  FROM e a
      |  JOIN w ON a.lang = w.lang AND a.shingle = w.shingle
      |  JOIN e b ON b.lang = w.lang AND b.shingle = w.shingle
      |    AND a.doc_id <> b.doc_id AND a.doc_id % 20 = 3
      |  GROUP BY 1, 2),
      |pj AS (SELECT p.*, ca.n_sh AS n_a, cb.n_sh AS n_b,
      |    CAST(n_shared AS DOUBLE)
      |      / CAST(ca.n_sh + cb.n_sh - n_shared AS DOUBLE) AS jacc
      |  FROM p JOIN cnt ca ON p.a_id = ca.doc_id
      |    JOIN cnt cb ON p.b_id = cb.doc_id),
      |ri AS (SELECT a_id, b_id, CAST(ROW_NUMBER() OVER (PARTITION BY a_id
      |    ORDER BY s_idf DESC, b_id) AS BIGINT) AS r FROM pj
      |  QUALIFY r <= ${operators.TextOps.RrfDepth}),
      |rj AS (SELECT a_id, b_id, CAST(ROW_NUMBER() OVER (PARTITION BY a_id
      |    ORDER BY jacc DESC, b_id) AS BIGINT) AS r FROM pj
      |  QUALIFY r <= ${operators.TextOps.RrfDepth}),
      |f AS (SELECT COALESCE(ri.a_id, rj.a_id) AS a_id,
      |    COALESCE(ri.b_id, rj.b_id) AS b_id,
      |    COALESCE(ri.r, 0) AS r_idf, COALESCE(rj.r, 0) AS r_jac
      |  FROM ri FULL OUTER JOIN rj
      |    ON ri.a_id = rj.a_id AND ri.b_id = rj.b_id),
      |g AS (SELECT a_id, b_id, r_idf, r_jac,
      |    (CASE WHEN r_idf > 0 THEN CAST(1 AS DOUBLE)
      |      / CAST(${operators.TextOps.RrfC} + r_idf AS DOUBLE)
      |      ELSE CAST(0 AS DOUBLE) END)
      |    + (CASE WHEN r_jac > 0 THEN CAST(1 AS DOUBLE)
      |      / CAST(${operators.TextOps.RrfC} + r_jac AS DOUBLE)
      |      ELSE CAST(0 AS DOUBLE) END) AS rrf
      |  FROM f),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY a_id
      |    ORDER BY rrf DESC, b_id) AS BIGINT) AS rnk FROM g)
      |SELECT a_id, b_id, r_idf, r_jac, rrf, rnk FROM r
      |WHERE rnk <= ${operators.TextOps.RrfTopK} ORDER BY a_id, rnk""".stripMargin

  /** D55/D55c's shared oracle — the session query and the served face
    * (which reads the persisted standing counts) must hash-match the
    * same definition.
    */
  private def CorpusDriftSql: String =
    """WITH bc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_base
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 10 <> 7) GROUP BY 1, 2),
      |dc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_delta
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 10 = 7) GROUP BY 1, 2),
      |j AS (SELECT COALESCE(bc.lang, dc.lang) AS lang,
      |    COALESCE(bc.tok, dc.tok) AS tok,
      |    COALESCE(c_base, 0) AS c_base, COALESCE(c_delta, 0) AS c_delta
      |  FROM bc FULL OUTER JOIN dc
      |    ON bc.lang = dc.lang AND bc.tok = dc.tok),
      |t AS (SELECT lang, CAST(SUM(c_base) AS BIGINT) AS n_base,
      |    CAST(SUM(c_delta) AS BIGINT) AS n_delta FROM j GROUP BY lang),
      |s AS (SELECT j.lang, tok, c_base, c_delta,
      |    CAST(c_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS p_base,
      |    CAST(c_delta AS DOUBLE) / CAST(n_delta AS DOUBLE) AS p_delta,
      |    abs(CAST(c_delta AS DOUBLE) / CAST(n_delta AS DOUBLE)
      |      - CAST(c_base AS DOUBLE) / CAST(n_base AS DOUBLE)) AS drift
      |  FROM j JOIN t ON j.lang = t.lang),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY drift DESC, tok) AS BIGINT) AS rnk FROM s)
      |SELECT lang, tok, c_base, c_delta, p_base, p_delta, drift, rnk
      |FROM r WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin

  private def TokFoldSql: String = strFold("tok")

  private def u64(x: Long): String =
    (BigInt(x) & (BigInt(2).pow(64) - 1)).toString

  /** Shared CTE chain `documents → shingles → 64-slot minhash sig`,
    * replicating MinHashKernel exactly: h = splitmix64(polyfold),
    * slot_j = min over shingles of signed(mult_j·h + add_j mod 2^64)
    * with the kernel's own mult/add constants inlined.
    */
  private def MinhashSigSql: String = {
    val perms = (0 until 64).map { j =>
      val m = graft.functions.WinnowFingerprints.mix(j.toLong * 2 + 1) | 1L
      val a = graft.functions.WinnowFingerprints.mix(0x5deece66dL + j)
      s"($j, CAST(${u64(m)} AS HUGEINT), CAST(${u64(a)} AS HUGEINT))"
    }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
       |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |s AS (SELECT doc_id, lang,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
       |  FROM d),
       |sh AS (SELECT doc_id, lang, unnest(shingles) AS shingle FROM s),
       |h0 AS (SELECT doc_id, lang, ${strFold("shingle")} AS ph FROM sh),
       |h AS (SELECT doc_id, lang, ${mix("ph")} AS hu FROM h0),
       |perm(j, m, a) AS (VALUES $perms),
       |slots AS (SELECT doc_id, lang, p.j,
       |    MIN(CAST(${signed64(s"((${mulmod("p.m", "hu")} + p.a) % $M64)")}
       |      AS BIGINT)) AS slot
       |  FROM h CROSS JOIN perm p GROUP BY doc_id, lang, p.j),
       |sig AS (SELECT doc_id, lang, list(slot ORDER BY j) AS sig
       |  FROM slots GROUP BY doc_id, lang)""".stripMargin
  }

  private val DEC = "DECIMAL(12,2)"

  /** D41 oracle builder — replicates ProfileOps.profileOn's
    * schema-driven metric set for a named table. Kinds: num | str |
    * ts | arr.
    */
  private def profileSql(table: String, cols: Seq[(String, String)]): String = {
    def mean(e: String) =
      s"CAST(SUM(CAST($e AS $DEC)) AS DOUBLE) / COUNT(*)"
    val specs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    specs += (("table", "n_rows", "CAST(COUNT(*) AS DOUBLE)"))
    cols.foreach { case (c, kind) =>
      specs += ((c, "n_null", s"CAST(COUNT(*) - COUNT($c) AS DOUBLE)"))
      specs += ((c, "n_distinct", s"CAST(COUNT(DISTINCT $c) AS DOUBLE)"))
      def lenStats(l: String): Unit = {
        specs += ((s"${c}_len", "min", s"CAST(MIN($l) AS DOUBLE)"))
        specs += ((s"${c}_len", "max", s"CAST(MAX($l) AS DOUBLE)"))
        specs += ((s"${c}_len", "mean", mean(l)))
      }
      kind match {
        case "num" =>
          specs += ((c, "min", s"CAST(MIN($c) AS DOUBLE)"))
          specs += ((c, "max", s"CAST(MAX($c) AS DOUBLE)"))
          specs += ((c, "mean", mean(c)))
        case "str" => lenStats(s"length($c)")
        case "ts" =>
          specs += ((c, "min_us", s"CAST(MIN(epoch_us($c)) AS DOUBLE)"))
          specs += ((c, "max_us", s"CAST(MAX(epoch_us($c)) AS DOUBLE)"))
        case "arr" => lenStats(s"len($c)")
      }
    }
    val aggs = specs.zipWithIndex
      .map { case ((_, _, e), i) => s"$e AS m$i" }.mkString(", ")
    val arms = specs.zipWithIndex.map { case ((cn, mt, _), i) =>
      s"SELECT '$cn' AS col_name, '$mt' AS metric, m$i AS value FROM a"
    }.mkString(" UNION ALL ")
    s"WITH a AS (SELECT $aggs FROM $table) " +
      s"SELECT col_name, metric, value FROM ($arms) " +
      "ORDER BY col_name, metric"
  }
  private def dsum(c: String) = s"CAST(SUM(CAST($c AS $DEC)) AS DOUBLE)"
  private def drev =
    s"CAST(SUM(CAST(l_extendedprice AS $DEC) * CAST(1 - l_discount AS $DEC)) AS DOUBLE)"

  /** DuckDB-equivalent SQL per query (same column names, same order).
    * The D36 layout-serving queries are appended after the base map so
    * they can SHARE their session twins' SQL — one oracle pinning both
    * the session-built and the persisted-layout path.
    */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    base ++ Map(
      "layout_ann_ivfpq"         -> base("ann_ivfpq"),
      "layout_ann_ivfpq_res"     -> base("ann_ivfpq_res"),
      // D36h: the delta is encoded with the same frozen models, so the
      // grown table equals the full-corpus index — same oracle; hash
      // parity proves the append path loses nothing
      "layout_ann_ivfpq_appended" -> base("ann_ivfpq"),
      "layout_ann_ivfpq_res_appended" -> base("ann_ivfpq_res"),
      "layout_text_postings"     -> base("text_inverted_postings"),
      "layout_dedup_minhash_lsh" -> base("dedup_minhash_lsh"),
      // D36m: the persisted serving config must equal the session
      // tuner row-for-row — one oracle pins the tuner AND the table a
      // restarted server reads its knobs from
      "layout_serving_config"    -> base("ann_probe_tuner"),
      // D38b: the crawl delta scored from the persisted LM tables must
      // equal the session LM's scores for the same docs
      "layout_lm_delta_score"    -> lmScoreSql(deltaOnly = true),
      // D39c: tokenization from the persisted merge table ≡ session
      "layout_bpe_tokenize"      -> base("text_tokenize_bpe"),
      // D40c: weights from the persisted DSIR model tables ≡ session
      "layout_importance_weights" -> base("doc_importance_weights"),
      // D44c: the persisted rank must equal the session iteration
      "layout_graph_rank"        -> base("graph_pagerank"),
      // D36i: served phrase search ≡ the session explode
      "layout_phrase_search"     -> base("text_phrase_search"),
      // D38c: the tier oracle composes the D38 LM-score SQL + the
      // quantile_cont ≡ percentile device; fraction literals come
      // from the SAME Scala constants as the operator
      "doc_lm_tiers" -> lmTiersSql,

      // D21c: tiered mixture — the tier SQL composed with the D21
      // salted-hash ROW_NUMBER device; quotas from the SAME constants
      "doc_mixture_tiered" -> {
        val quotaCase = operators.CurationOps.TierQuotas
          .map { case (t, q) => s"WHEN '$t' THEN $q" }.mkString(" ")
        s"""WITH t AS (${lmTiersSql}),
          |m AS (SELECT doc_id, lang, tier,
          |    md5(CAST(doc_id AS VARCHAR)) AS h,
          |    CAST(CASE tier $quotaCase END AS BIGINT) AS quota
          |  FROM t),
          |r AS (SELECT doc_id, lang, tier, h, quota,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, tier
          |      ORDER BY h, doc_id) AS BIGINT) AS rnk
          |  FROM m)
          |SELECT doc_id, lang, tier, h, rnk FROM r
          |WHERE rnk <= quota ORDER BY lang, tier, rnk""".stripMargin
      },

      // D52: the report's oracle COMPOSES the gate oracles verbatim —
      // the dashboard can never disagree with the gates it summarizes
      "doc_quality_report" ->
        s"""WITH gr AS (${base("doc_gopher_rules")}),
          |dl AS (${base("dedup_lines")}),
          |j AS (SELECT d.source, gr.n_tok, gr.keep, dl.n_lines, dl.n_dropped
          |  FROM documents d
          |  JOIN gr ON d.doc_id = gr.doc_id
          |  JOIN dl ON d.doc_id = dl.doc_id),
          |s AS (SELECT source,
          |    CAST(COUNT(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          |    CAST(SUM(n_tok) AS BIGINT) AS total_tok,
          |    CAST(SUM(n_lines) AS BIGINT) AS total_lines,
          |    CAST(SUM(n_dropped) AS BIGINT) AS dup_lines
          |  FROM j GROUP BY source)
          |SELECT source, n_docs, n_keep,
          |  CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate,
          |  total_tok,
          |  CAST(total_tok AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tok,
          |  total_lines, dup_lines,
          |  CAST(dup_lines AS DOUBLE) / CAST(total_lines AS DOUBLE)
          |    AS dup_line_rate
          |FROM s ORDER BY source""".stripMargin,

      // D36j: more-like-this served from the persisted shingle
      // postings ≡ the session query restricted to the anchor set
      "layout_doc_similar"       ->
        docSimilarSql(anchorPred = "AND a.doc_id % 20 = 3"),

      // D36c: term probe against the persisted postings (bucket-pruned
      // scan on the Spark side; the oracle just filters the postings
      // definition to the same literal terms)
      "layout_postings_probe" -> {
        val terms = operators.TextOps.Bm25Terms
          .map(t => s"'$t'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          |    FROM documents),
          |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          |  FROM t GROUP BY 1, 2)
          |SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
          |  CAST(SUM(tf) AS BIGINT) AS total_tf,
          |  array_to_string(list(CAST(doc_id AS VARCHAR) || ':'
          |    || CAST(tf AS VARCHAR) ORDER BY doc_id), ' ') AS postings
          |FROM tf WHERE tok IN ($terms) GROUP BY tok ORDER BY tok""".stripMargin
      },

      // D36e: delta exact-dup resolution against the persisted
      // checksum keeper map
      "layout_manifest_probe" ->
        """WITH m AS (SELECT md5(text) AS ck, MIN(doc_id) AS keeper
          |    FROM documents WHERE doc_id % 10 <> 7 GROUP BY 1),
          |i AS (SELECT doc_id, md5(text) AS ck FROM documents
          |  WHERE doc_id % 10 = 7)
          |SELECT i.doc_id, (m.keeper IS NOT NULL) AS is_exact_dup, m.keeper
          |FROM i LEFT JOIN m USING (ck) ORDER BY doc_id""".stripMargin,

      // D36f: the standing-corpus (doc_id % 10 <> 7) CC labels —
      // dedup_clusters' recursive-CTE oracle restricted to the corpus
      // split on BOTH the edge ends and the vertex seed
      "layout_cc_labels" ->
        """WITH RECURSIVE
          |d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
          |    FROM documents WHERE doc_id % 10 <> 7
          |      AND len(string_split(text, ' ')) >= 3),
          |s AS (SELECT doc_id, lang,
          |    list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          |  FROM d),
          |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
          |    unnest(shingles) AS shingle FROM s),
          |pairs AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
          |    AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id
          |  HAVING COUNT(*) >= 2),
          |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION ALL SELECT b_id, a_id FROM pairs),
          |reach(u, r) AS (
          |  SELECT doc_id AS u, doc_id AS r FROM documents
          |    WHERE doc_id % 10 <> 7
          |  UNION
          |  SELECT und.dst AS u, reach.r FROM reach JOIN und ON reach.u = und.src),
          |comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u)
          |SELECT comp.doc_id, comp.component, sz.cluster_size
          |FROM comp JOIN (SELECT component, COUNT(*) AS cluster_size
          |  FROM comp GROUP BY component) sz USING (component)
          |ORDER BY doc_id""".stripMargin)
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // A23: rollup subtotals — GROUPING() bit order matches Spark's
    // grouping_id (leftmost column = most significant bit)
    "q_rollup_revenue" ->
      s"""SELECT r_name, n_name, $drev AS revenue, COUNT(*) AS n_items,
         |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${dsum("l_quantity")} AS sum_qty,
         |${dsum("l_extendedprice")} AS sum_base_price,
         |$drev AS sum_disc_price,
         |CAST(SUM(CAST(l_extendedprice AS $DEC) * CAST(1 - l_discount AS $DEC)
         |  * CAST(1 + l_tax AS $DEC)) AS DOUBLE) AS sum_charge,
         |${dsum("l_quantity")} / COUNT(*) AS avg_qty,
         |${dsum("l_extendedprice")} / COUNT(*) AS avg_price,
         |${dsum("l_discount")} / COUNT(*) AS avg_disc,
         |COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $drev AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name, $drev AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q7_nation_volume" ->
      s"""SELECT supp_nation, cust_nation, l_year, $drev AS revenue
         |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         |    l_extendedprice, l_discount
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE ((n1.n_name = '${RelationalOps.Q7Nation1}' AND n2.n_name = '${RelationalOps.Q7Nation2}')
         |      OR (n1.n_name = '${RelationalOps.Q7Nation2}' AND n2.n_name = '${RelationalOps.Q7Nation1}'))
         |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') s
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_top_customers" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, order_cnt, total_spent
         |FROM (SELECT o_custkey, ${dsum("o_totalprice")} AS total_spent,
         |        COUNT(*) AS order_cnt
         |      FROM orders GROUP BY o_custkey) s
         |JOIN customer ON s.o_custkey = c_custkey
         |ORDER BY total_spent DESC, c_custkey LIMIT 20""".stripMargin,

    "q_part_brand_stats" ->
      s"""SELECT p_brand, COUNT(*) AS n_items,
         |COUNT(DISTINCT l_partkey) AS n_parts,
         |${dsum("l_quantity")} AS sum_qty, $drev AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_orders_window" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice, rn, cum_spent FROM (
         |  SELECT o_orderkey, o_custkey, o_totalprice,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
         |    CAST(SUM(CAST(o_totalprice AS $DEC)) OVER w AS DOUBLE) AS cum_spent
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
         |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_rank_parts" ->
      """SELECT p_brand, p_partkey, p_size, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT p_brand, p_partkey, p_size,
        |    RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS rnk
        |  FROM part)
        |WHERE rnk <= 2 ORDER BY p_brand, p_size, p_partkey""".stripMargin,

    "q_dense_size_parts" ->
      """SELECT p_brand, p_partkey, p_size, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT p_brand, p_partkey, p_size,
        |    DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS rnk
        |  FROM part)
        |WHERE rnk <= 2 ORDER BY p_brand, p_size, p_partkey""".stripMargin,

    // A10: EXISTS ⇒ semi join (Q4 shape, "late" = shipped after order)
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // A11: correlated scalar-avg subquery decorrelated (Q17 shape);
    // the mean uses the house exact decimal average so the threshold
    // compare is engine-independent
    "q17_small_qty_revenue" ->
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#12'),
        |av AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM lineitem JOIN bp ON p_partkey = l_partkey GROUP BY 1)
        |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem l JOIN bp ON bp.p_partkey = l.l_partkey
        |JOIN av ON av.l_partkey = l.l_partkey
        |WHERE l.l_quantity < 0.5 * av.avg_qty""".stripMargin,

    // A12: global-mean scalar + NOT EXISTS ⇒ anti join (Q22 shape)
    "q22_idle_customers" ->
      """SELECT n.n_name,
        |  CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE c.c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |    FROM customer)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // A13: Q2 shape — correlated MIN subquery over the pair-cost view
    "q2_min_cost_supplier" ->
      """WITH pp AS (SELECT p_partkey FROM part
        |    WHERE p_type = 'SMALL' AND p_size < 15),
        |pair AS (SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        |  FROM lineitem JOIN pp ON p_partkey = l_partkey GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, pair.l_partkey AS p_partkey,
        |  s_suppkey, cost
        |FROM pair JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE cost = (SELECT MIN(p2.cost) FROM pair p2
        |  WHERE p2.l_partkey = pair.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        |LIMIT 100""".stripMargin,

    // A14: Q11 shape — scalar total subquery in the HAVING position.
    // Scale-free threshold (value > 1.5 × average per-part value) so
    // the predicate discriminates at every SF — see
    // RelationalOps.q11ValueShare. 1.5 is a double literal and
    // tot/nparts are exact (decimal sum, distinct count), so the
    // threshold is the same IEEE double in both engines.
    "q11_value_share" ->
      s"""WITH v AS (SELECT l_partkey, $drev AS value
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT $drev AS tot,
         |  COUNT(DISTINCT l_partkey) AS nparts FROM lineitem)
         |SELECT l_partkey, value FROM v, t
         |WHERE value > 1.5 * tot / nparts
         |ORDER BY value DESC, l_partkey""".stripMargin,

    // A15: Q14 shape — conditional decimal aggregation
    "q14_promo_share" ->
      s"""WITH f AS (SELECT l_extendedprice, l_discount, p_type
         |  FROM lineitem JOIN part ON p_partkey = l_partkey
         |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'),
         |a AS (SELECT
         |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice
         |      ELSE 0 END AS $DEC) * CAST(1 - l_discount AS $DEC))
         |    AS DOUBLE) AS promo_revenue,
         |  CAST(SUM(CAST(l_extendedprice AS $DEC)
         |      * CAST(1 - l_discount AS $DEC)) AS DOUBLE) AS total_revenue
         |  FROM f)
         |SELECT promo_revenue, total_revenue,
         |  100.0 * promo_revenue / total_revenue AS promo_share FROM a""".stripMargin,

    // A16: Q16 shape — NOT IN exclusion + count(DISTINCT)
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#21' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // A17: Q18 shape — IN over a grouped HAVING
    "q18_large_orders" ->
      s"""WITH big AS (SELECT l_orderkey, ${dsum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY 1 HAVING ${dsum("l_quantity")} > 250)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  sum_qty
         |FROM orders JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // A18: Q19 shape — disjunctive multi-branch predicate
    "q19_disjunctive_revenue" ->
      s"""SELECT $drev AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity <= 20)
         |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |    AND l_quantity BETWEEN 10 AND 35)
         |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
         |    AND l_quantity >= 25)""".stripMargin,

    // A19: Q20 shape — nested share semi join; both sums decimal-exact
    "q20_share_suppliers" ->
      s"""WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
         |li AS (SELECT l_partkey, l_suppkey, l_quantity
         |  FROM lineitem JOIN pp ON p_partkey = l_partkey),
         |pq AS (SELECT l_partkey, l_suppkey, ${dsum("l_quantity")} AS qty
         |  FROM li GROUP BY 1, 2),
         |pt AS (SELECT l_partkey, ${dsum("l_quantity")} AS tot
         |  FROM li GROUP BY 1)
         |SELECT DISTINCT s_suppkey, s_name, s_acctbal
         |FROM pq JOIN pt ON pq.l_partkey = pt.l_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE qty > 0.1 * tot ORDER BY s_suppkey""".stripMargin,

    // A20: Q21 shape — the ORIGINAL EXISTS/NOT-EXISTS statement; hash
    // parity proves the engine's single-shuffle window decorrelation
    "q21_sole_late_supplier" ->
      """WITH l AS (SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate,
        |    o.o_orderdate
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |sole AS (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey FROM l l1
        |  WHERE date_diff('day', CAST(l1.o_orderdate AS DATE),
        |      CAST(l1.l_shipdate AS DATE)) > 60
        |  AND EXISTS (SELECT 1 FROM l l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND date_diff('day', CAST(l3.o_orderdate AS DATE),
        |        CAST(l3.l_shipdate AS DATE)) > 60))
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM sole JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    // D41: one-pass profile — every metric from a single aggregate row
    // D41/b/c: generated from the same schema-driven metric set as
    // ProfileOps.profileOn (see profileSql)
    "data_profile" -> profileSql("documents", Seq(
      "doc_id" -> "num", "text" -> "str", "lang" -> "str",
      "source" -> "str", "n_chars" -> "num")),
    "events_profile" -> profileSql("events", Seq(
      "event_id" -> "num", "ts" -> "ts", "user_id" -> "num",
      "event_type" -> "str", "value" -> "num", "props" -> "str")),
    "emb_profile" -> profileSql("embeddings", Seq(
      "vec_id" -> "num", "embedding" -> "arr", "label" -> "num")),

    // D42: constraint gates — integer-count ratios, engine-exact verdicts
    "quality_gates" ->
      """WITH a AS (SELECT
        |  CAST(COUNT(doc_id) AS DOUBLE) / COUNT(*) AS doc_id_complete,
        |  CAST(COUNT(DISTINCT doc_id) AS DOUBLE) / COUNT(*) AS doc_id_unique,
        |  CAST(COUNT(*) FILTER (lang IN ('en','de','fr','es','zh'))
        |    AS DOUBLE) / COUNT(*) AS lang_known,
        |  CAST(COUNT(*) FILTER (n_chars = length(text)) AS DOUBLE)
        |    / COUNT(*) AS n_chars_consistent,
        |  CAST(COUNT(*) FILTER (n_chars BETWEEN 1 AND 1000000) AS DOUBLE)
        |    / COUNT(*) AS n_chars_in_range,
        |  CAST(COUNT(*) FILTER (length(text) > 0) AS DOUBLE) / COUNT(*)
        |    AS text_nonempty
        |FROM documents)
        |SELECT gate, measured, threshold, pass FROM (
        |  SELECT 'doc_id_complete' AS gate, doc_id_complete AS measured,
        |    CAST(1.0 AS DOUBLE) AS threshold,
        |    doc_id_complete >= 1.0 AS pass FROM a
        |  UNION ALL SELECT 'doc_id_unique', doc_id_unique,
        |    CAST(1.0 AS DOUBLE), doc_id_unique >= 1.0 FROM a
        |  UNION ALL SELECT 'lang_known', lang_known,
        |    CAST(0.99 AS DOUBLE), lang_known >= CAST(0.99 AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_chars_consistent', n_chars_consistent,
        |    CAST(0.99 AS DOUBLE),
        |    n_chars_consistent >= CAST(0.99 AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_chars_in_range', n_chars_in_range,
        |    CAST(0.99 AS DOUBLE),
        |    n_chars_in_range >= CAST(0.99 AS DOUBLE) FROM a
        |  UNION ALL SELECT 'text_nonempty', text_nonempty,
        |    CAST(0.99 AS DOUBLE),
        |    text_nonempty >= CAST(0.99 AS DOUBLE) FROM a)
        |ORDER BY gate""".stripMargin,

    // D43: the naive vocab self-join — hash parity proves the engine's
    // in-row pair generation rewrite
    "source_overlap" ->
      """WITH st AS (SELECT DISTINCT source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM st GROUP BY 1),
        |pr AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa AS src_a, sb AS src_b, pa.n AS n_a, pb.n AS n_b,
        |  nc AS n_common,
        |  CAST(nc AS DOUBLE) / (pa.n + pb.n - nc) AS jaccard
        |FROM pr JOIN per pa ON pa.source = sa
        |JOIN per pb ON pb.source = sb
        |ORDER BY src_a, src_b""".stripMargin,

    // D55: top-k drifted tokens per lang, standing (% 10 ≠ 7) vs the
    // crawl delta (= 7); probabilities are single divisions of exact
    // longs, so the ranking is engine-exact
    "corpus_drift" -> CorpusDriftSql,

    // D55c: the served face reads the PERSISTED standing counts —
    // hash parity against the same definition proves the layout
    // round-trip is lossless
    "layout_corpus_drift" -> CorpusDriftSql,

    // D55b: per-lang L1 drift — the sum runs in exact integer
    // cross-product space (HUGEINT here, DECIMAL(38,0) in the engine),
    // one double division at emission
    "corpus_drift_summary" ->
      """WITH bc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_base
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id % 10 <> 7) GROUP BY 1, 2),
        |dc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_delta
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id % 10 = 7) GROUP BY 1, 2),
        |j AS (SELECT COALESCE(bc.lang, dc.lang) AS lang,
        |    COALESCE(bc.tok, dc.tok) AS tok,
        |    COALESCE(c_base, 0) AS c_base, COALESCE(c_delta, 0) AS c_delta
        |  FROM bc FULL OUTER JOIN dc
        |    ON bc.lang = dc.lang AND bc.tok = dc.tok),
        |t AS (SELECT lang, CAST(SUM(c_base) AS BIGINT) AS n_base,
        |    CAST(SUM(c_delta) AS BIGINT) AS n_delta FROM j GROUP BY lang)
        |SELECT j.lang AS lang, n_base, n_delta,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN c_base = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_tokens,
        |  CAST(SUM(abs(CAST(c_delta AS HUGEINT) * n_base
        |      - CAST(c_base AS HUGEINT) * n_delta)) AS DOUBLE)
        |    / (CAST(n_base AS DOUBLE) * CAST(n_delta AS DOUBLE)) AS l1
        |FROM j JOIN t ON j.lang = t.lang
        |GROUP BY j.lang, n_base, n_delta ORDER BY lang""".stripMargin,

    // D44: 5 unrolled integer-PageRank rounds (see PagerankSql builder)
    "graph_pagerank" -> PagerankSql,

    // D61: degree-oriented triangle counting (see TrianglesSql builder)
    "graph_triangles" -> TrianglesSql,
    // D67: degree-capped wedge link prediction (see LinkPredictSql)
    "graph_link_predict" -> LinkPredictSql,

    // A21: Q6 shape — one filtered scan, no join
    "q6_forecast_revenue" ->
      s"""SELECT CAST(SUM(CAST(l_extendedprice AS $DEC)
         |    * CAST(l_discount AS $DEC)) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    // A22: Q8 shape — conditional num/den decimal sums, ratio per year
    "q8_market_share" ->
      s"""WITH cn AS (SELECT c_custkey FROM customer
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
         |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey),
         |f AS (SELECT YEAR(o_orderdate) AS o_year, supp_nation,
         |    l_extendedprice, l_discount
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN cn ON o_custkey = c_custkey
         |  JOIN sn ON l_suppkey = s_suppkey
         |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01')
         |SELECT CAST(o_year AS BIGINT) AS o_year,
         |  CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_18'
         |      THEN l_extendedprice ELSE 0 END AS $DEC)
         |    * CAST(1 - l_discount AS $DEC)) AS DOUBLE) AS nation_rev,
         |  CAST(SUM(CAST(l_extendedprice AS $DEC)
         |    * CAST(1 - l_discount AS $DEC)) AS DOUBLE) AS total_rev,
         |  CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_18'
         |      THEN l_extendedprice ELSE 0 END AS $DEC)
         |    * CAST(1 - l_discount AS $DEC)) AS DOUBLE)
         |  / CAST(SUM(CAST(l_extendedprice AS $DEC)
         |    * CAST(1 - l_discount AS $DEC)) AS DOUBLE) AS mkt_share
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // A23: Q9 shape — color-part revenue by (supplier nation, year)
    "q9_product_profit" ->
      s"""SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         |  $drev AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // A24: Q10 shape — returned-item revenue top-20
    "q10_returned_customers" ->
      s"""WITH rev AS (SELECT o_custkey, $drev AS revenue
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag = 'R'
         |    AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
         |  GROUP BY 1)
         |SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment, revenue
         |FROM rev JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // A25: Q12 shape — conditional priority counts over late shipments
    "q12_lateship_priority" ->
      """SELECT l_linestatus,
        |  CAST(COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS BIGINT) AS high_line_count,
        |  CAST(COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // A26: Q13 shape — LEFT OUTER keeps zero-order customers
    "q13_order_count_dist" ->
      """WITH co AS (SELECT c_custkey,
        |    CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // A27: Q15 shape — revenue view vs its own MAX scalar, ties kept
    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey, $drev AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    // D45: per-language tokenizer coverage over the trained merges
    "bpe_coverage" ->
      (BpeStageCtes +
        "wc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents) GROUP BY 1, 2), " +
        s"seg AS (SELECT w, CAST(len(list_filter(string_split(st, '||'), " +
        s"x -> x <> '')) AS BIGINT) AS n_pieces FROM s$BpeM) " +
        "SELECT lang, CAST(SUM(n) AS BIGINT) AS n_words, " +
        "CAST(SUM(n * n_pieces) AS BIGINT) AS n_pieces, " +
        "CAST(SUM(CASE WHEN n_pieces = 1 THEN n ELSE 0 END) AS BIGINT) " +
        "AS n_single, " +
        "CAST(CAST(SUM(n * n_pieces) AS BIGINT) AS DOUBLE) " +
        "/ CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS pieces_per_word, " +
        "CAST(CAST(SUM(CASE WHEN n_pieces = 1 THEN n ELSE 0 END) AS BIGINT) " +
        "AS DOUBLE) / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) " +
        "AS single_piece_share " +
        "FROM wc JOIN seg ON wc.tok = seg.w GROUP BY lang ORDER BY lang"),

    // D25c: bottom-decile distance-to-centroid outliers — the exact
    // interpolated per-cluster percentile (quantile_cont = Spark's
    // percentile, the evt_percentiles parity)
    "emb_outliers" ->
      (ClusterAssignCtes +
        ", ct AS (SELECT cid AS c2, quantile_cont(sim, 0.1) AS cut " +
        "FROM asg GROUP BY 1) " +
        "SELECT vec_id, cid, sim, cut FROM asg JOIN ct ON cid = c2 " +
        "WHERE sim < cut ORDER BY vec_id"),

    // D44b: the PageRank mass rolled up as a per-source prior
    "graph_source_rank" ->
      ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(pr) AS BIGINT) AS total_pr, " +
        "CAST(SUM(pr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_pr " +
        s"FROM ($PagerankSql) p JOIN documents ON p.doc_id = documents.doc_id " +
        "GROUP BY 1 ORDER BY mean_pr DESC, source"),

    // B25: strict-consecutive pattern detection (builder above)
    "evt_pattern_match" -> PatternMatchSql,

    // B29: the Kleene-quantified pattern (builder above)
    "evt_pattern_kleene" -> PatternKleeneSql,

    // B30: consumption-enumeration oracle generated from PatternSpecSteps
    "evt_pattern_spec" -> PatternSpecSql,

    // B25b: the negation/abandonment complement (builder above)
    "evt_pattern_abandoned" -> PatternAbandonedSql,

    // B26: keyless interval join — oracle is the naive theta join
    "evt_incident_join" -> IncidentJoinSql,

    // D59: Naive Bayes lang classifier (builder above)
    "doc_classify_lang" -> ClassifyLangSql,

    // D60: JL random-projection prefilter (builder above)
    "ann_rp_prefilter" -> RpPrefilterSql,

    // D58c: the served SQ8 face shares D58b's oracle — hash parity
    // proves the persisted codes/model lossless
    "layout_ann_sq8" -> Sq8RerankSql,

    // D59b: the served NB face shares D59's oracle
    "layout_doc_classify" -> ClassifyLangSql,

    // D58d: IVF-SQ8 — the sq8 ADC chain intersected with the IVF
    // probe/list membership (the ann_ivfpq oracle device), shortlist
    // by ADC DESC (dot product, not a distance), exact re-rank
    "ann_ivfsq" -> {
      val np = operators.AnnOps.IvfSqNprobe
      val rr = operators.AnnOps.IvfSqR
      val m = operators.AnnOps.DefaultM
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |${sq8Ctes("z")},
        |iseed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
        |  FROM e ORDER BY $ivfSeedOrder LIMIT $m),
        |is0 AS (SELECT e.vec_id, e.v, s.cid,
        |    list_dot_product(e.v, s.cv) / (e.nrm * s.cnrm) AS sim
        |  FROM e, iseed s),
        |ia1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM is0)
        |  WHERE rn = 1),
        |icm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
        |  FROM ia1),
        |icx AS (SELECT cid, pos,
        |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
        |  FROM icm GROUP BY cid, pos),
        |iref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM icx GROUP BY cid),
        |iref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
        |  FROM iref),
        |il0 AS (SELECT e.vec_id, r.cid,
        |    list_dot_product(e.v, r.cv) / (e.nrm * r.cnrm) AS sim
        |  FROM e, iref2 r),
        |ilists AS (SELECT cid AS c_cid, vec_id AS c_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM il0) WHERE rn = 1),
        |iprobes AS (SELECT cid AS q_cid, vec_id AS q_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM il0 WHERE vec_id % 50 = 0)
        |  WHERE rn <= $np),
        |icand AS (SELECT a.q_id, a.c_id, a.adc FROM zs a
        |  JOIN iprobes p ON p.q_id = a.q_id
        |  JOIN ilists l ON l.c_id = a.c_id AND l.c_cid = p.q_cid),
        |ishort AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id)
        |      AS arnk FROM icand) WHERE arnk <= $rr),
        |iex AS (SELECT s.q_id, s.c_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |  FROM ishort s
        |  JOIN e q ON q.vec_id = s.q_id
        |  JOIN e c ON c.vec_id = s.c_id),
        |irr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM iex)
        |SELECT q_id, c_id, sim, rnk FROM irr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin
    },

    // B21: Markov transition counts + row-normalized probabilities
    "evt_transitions" ->
      """WITH t AS (SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT prev_type AS p2, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM c GROUP BY 1)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |FROM c JOIN tt ON prev_type = p2
        |ORDER BY prev_type, next_type""".stripMargin,

    // B27: the exact dyadic EWMA recurrence — list_reduce replays the
    // fold on the identical (ts, event_id) order; α = 1/2 makes every
    // step two exact power-of-two scalings plus one identically-
    // rounded add, so the smoothed doubles hash-match bit-for-bit
    "evt_ewma" ->
      """SELECT user_id, event_type, COUNT(*) AS n_events,
        |  (list(value ORDER BY ts, event_id))[-1] AS last_value,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (acc, x) -> acc * 0.5::DOUBLE + x * 0.5::DOUBLE) AS ewma
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,

    // D62: content-keyed split assignment — the StrHash64 chain
    // (poly fold + splitmix64) replicated in HUGEINT, residue mod 100
    "doc_split_assign" ->
      s"""SELECT doc_id, h100,
         |  CASE WHEN h100 < 98 THEN 'train' WHEN h100 = 98 THEN 'valid'
         |    ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |    ((CAST(${signed64(mix(strFold("text")))} AS BIGINT) % 100)
         |      + 100) % 100 AS h100
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // D64: the z-order rectangle probe — oracle is the PLAIN full-scan
    // rectangle, so hash parity proves the cell cover + partition
    // pruning lossless
    "layout_zorder_rect" ->
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE ts >= TIMESTAMP '${operators.ZOrderOps.RectT1}'
         |  AND ts < TIMESTAMP '${operators.ZOrderOps.RectT2}'
         |  AND value >= ${operators.ZOrderOps.RectV1}
         |  AND value < ${operators.ZOrderOps.RectV2}
         |ORDER BY event_id""".stripMargin,

    // D65: the post-purge audit rectangle — the purged day must be
    // absent from the served clone, everything else bit-intact
    "layout_zorder_purge" ->
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE ts >= TIMESTAMP '${operators.ZOrderOps.AuditT1}'
         |  AND ts < TIMESTAMP '${operators.ZOrderOps.AuditT2}'
         |  AND NOT (ts >= TIMESTAMP '${operators.ZOrderOps.PurgeT1}'
         |    AND ts < TIMESTAMP '${operators.ZOrderOps.PurgeT2}')
         |ORDER BY event_id""".stripMargin,

    // D66: the bloom-index point lookup — oracle is the plain
    // full-scan point query; parity proves the sidecar never drops
    // the true cell
    "layout_zorder_point" ->
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE event_id = ${operators.ZOrderOps.LookupId}
         |ORDER BY event_id""".stripMargin,

    // D63: the k-anonymity generalization ladder — three class-size
    // aggregates joined back, finest level reaching k wins
    "privacy_k_anon" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balk
         |  FROM customer),
         |g0 AS (SELECT c_nationkey, c_mktsegment, balk,
         |    COUNT(*) AS n0 FROM c GROUP BY 1, 2, 3),
         |g1 AS (SELECT c_nationkey, c_mktsegment,
         |    COUNT(*) AS n1 FROM c GROUP BY 1, 2),
         |g2 AS (SELECT c_mktsegment, COUNT(*) AS n2 FROM c GROUP BY 1)
         |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, c.balk,
         |  CAST(CASE WHEN n0 >= $KA THEN 0 WHEN n1 >= $KA THEN 1
         |    WHEN n2 >= $KA THEN 2 ELSE 3 END AS BIGINT) AS lvl,
         |  CAST(CASE WHEN n0 >= $KA THEN n0 WHEN n1 >= $KA THEN n1
         |    WHEN n2 >= $KA THEN n2 ELSE 0 END AS BIGINT) AS grp_n
         |FROM c JOIN g0 USING (c_nationkey, c_mktsegment, balk)
         |  JOIN g1 USING (c_nationkey, c_mktsegment)
         |  JOIN g2 USING (c_mktsegment)
         |ORDER BY c_custkey""".stripMargin,

    // C9/C10: text-format roundtrips oracled against the ORIGINAL
    // rows — a hash match proves the writer/reader pair is lossless
    "jsonl_ingest" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "csv_ingest" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // B4b: the native session_window semantics replicated — new
    // session at diff >= gap, window end = last event + gap
    "evt_sessionize_native" ->
      """WITH base AS (SELECT user_id, ts, value, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS prev_us
        |  FROM events),
        |marked AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR us - prev_us >= 7200000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM base),
        |sess AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS w_start,
        |  MAX(ts) + INTERVAL 2 HOUR AS w_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, w_start""".stripMargin,

    // B20b: LEFT join — unattributed purchases carry a null click
    "evt_attribution_outer" ->
      s"""SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         |  c.event_id AS click_id, c.ts AS click_ts,
         |  c.event_id IS NOT NULL AS attributed
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         |  ON p.user_id = c.user_id
         |  AND c.ts <= p.ts AND c.ts > p.ts
         |    - INTERVAL ${operators.EventOps.AttributionWindowHours} HOURS
         |ORDER BY purchase_id, click_id""".stripMargin,

    // B20c: integer recency weights over the inner-join pairs —
    // exact normalizing sums, engine-exact shares
    "evt_attribution_credit" ->
      s"""WITH pairs AS (
         |  SELECT p.user_id, p.event_id AS purchase_id,
         |    c.event_id AS click_id,
         |    CAST(FLOOR((epoch_us(p.ts) - epoch_us(c.ts)) / 60000000.0)
         |      AS BIGINT) AS mins_before
         |  FROM events p JOIN events c ON p.user_id = c.user_id
         |    AND p.event_type = 'purchase' AND c.event_type = 'click'
         |    AND c.ts <= p.ts AND c.ts > p.ts
         |      - INTERVAL ${operators.EventOps.AttributionWindowHours} HOURS),
         |wt AS (SELECT *,
         |    ${operators.EventOps.AttributionWindowHours * 60L} - mins_before
         |      AS w_int,
         |    CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT)
         |      AS n_clicks,
         |    CAST(SUM(${operators.EventOps.AttributionWindowHours * 60L}
         |      - mins_before) OVER (PARTITION BY purchase_id) AS BIGINT)
         |      AS sum_w
         |  FROM pairs)
         |SELECT user_id, purchase_id, click_id, mins_before,
         |  CAST(1.0 AS DOUBLE) / n_clicks AS credit_linear,
         |  CAST(w_int AS DOUBLE) / CAST(sum_w AS DOUBLE) AS credit_decay
         |FROM wt ORDER BY purchase_id, click_id""".stripMargin,

    // B23: fixed-width value histogram (floor is double-exact)
    "evt_value_histogram" ->
      s"""SELECT event_type,
         |  CAST(LEAST(FLOOR(value / ${operators.EventOps.HistWidth}),
         |    ${operators.EventOps.HistMaxBucket}) AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // D11b: per-label norm gate (sqrt IEEE-exact, replicates)
    "emb_norm_stats" ->
      """SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(nrm) AS norm_min, MAX(nrm) AS norm_max,
        |  CAST(COUNT(CASE WHEN ABS(nrm - 1.0) > 0.001 THEN 1 END)
        |    AS BIGINT) AS n_nonunit
        |FROM (SELECT label,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // B22: trailing-window volume anomalies, z-test in square form
    "evt_daily_anomaly" ->
      """WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT *, COUNT(cnt) OVER win AS n_prev,
        |    SUM(cnt) OVER win AS sum_prev,
        |    SUM(cnt * cnt) OVER win AS sumsq_prev
        |  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT *, CAST(sum_prev AS DOUBLE) / n_prev AS mean,
        |    (CAST(sumsq_prev AS DOUBLE) - CAST(sum_prev AS DOUBLE)
        |      * CAST(sum_prev AS DOUBLE) / n_prev) / n_prev AS variance
        |  FROM w WHERE n_prev >= 3)
        |SELECT event_type, day, cnt, mean, variance FROM f
        |WHERE cnt > mean
        |  AND (cnt - mean) * (cnt - mean) > 4 * variance
        |ORDER BY event_type, day""".stripMargin,

    // D35b: positional phrase search — generated from the SHARED
    // phrase constant (TextOps.PhraseTerms) like the BM25 terms
    "text_phrase_search" -> {
      val terms = operators.TextOps.PhraseTerms
      val joins = terms.indices.tail.map { i =>
        s"JOIN t t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i"
      }.mkString(" ")
      val conds = terms.zipWithIndex
        .map { case (t, i) => s"t$i.tok = '$t'" }.mkString(" AND ")
      "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
        "generate_subscripts(string_split(text, ' '), 1) AS pos " +
        "FROM documents) " +
        s"SELECT t0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits " +
        s"FROM t t0 $joins WHERE $conds GROUP BY 1 ORDER BY 1"
    },

    // D46: the NAIVE banded typo self-join — hash parity proves the
    // SymSpell deletion-neighborhood rewrite loses no pair
    "text_typo_pairs" ->
      s"""WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
         |  FROM documents)
         |SELECT a.tok AS tok_a, b.tok AS tok_b,
         |  CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
         |FROM (SELECT tok FROM v WHERE length(tok) > 0) a
         |JOIN (SELECT tok FROM v WHERE length(tok) > 0) b
         |  ON abs(length(a.tok) - length(b.tok))
         |    <= ${operators.TextOps.TypoMaxDist}
         |  AND a.tok < b.tok
         |WHERE levenshtein(a.tok, b.tok) <= ${operators.TextOps.TypoMaxDist}
         |ORDER BY tok_a, tok_b""".stripMargin,

    // D47: the salted-splitmix split membership replicated
    "doc_holdout_split" -> {
      val sig = signed64(mix(
        s"((CAST(doc_id AS HUGEINT) + ${operators.CurationOps.HoldoutSalt}) % $M64)"))
      s"""SELECT doc_id, lang,
         |  CASE WHEN ((($sig) % 100) + 100) % 100
         |      < ${operators.CurationOps.HoldoutValPct}
         |    THEN 'val' ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // B20: all click touches in the window before each purchase (the
    // band interpolates the SHARED constant, like PagerankSql)
    "evt_attribution" ->
      s"""SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         |  c.event_id AS click_id, c.ts AS click_ts,
         |  CAST(FLOOR((epoch_us(p.ts) - epoch_us(c.ts)) / 60000000.0)
         |    AS BIGINT) AS mins_before
         |FROM events p JOIN events c ON p.user_id = c.user_id
         |  AND p.event_type = 'purchase' AND c.event_type = 'click'
         |  AND c.ts <= p.ts AND c.ts > p.ts
         |    - INTERVAL ${operators.EventOps.AttributionWindowHours} HOURS
         |ORDER BY purchase_id, click_id""".stripMargin,

    "evt_latest_per_key" ->
      """SELECT event_id, ts, user_id, event_type, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "evt_debounce" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |    THEN 1 ELSE 0 END AS new_burst FROM base),
        |bursts AS (
        |  SELECT *, CAST(SUM(new_burst) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_id
        |  FROM marked),
        |ranked AS (
        |  SELECT user_id, burst_id, event_id, ts, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, burst_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id, burst_id) AS BIGINT) AS burst_size
        |  FROM bursts)
        |SELECT user_id, burst_id, event_id, ts, event_type, burst_size
        |FROM ranked WHERE rn = 1 ORDER BY user_id, burst_id""".stripMargin,

    "evt_change_detect" ->
      """SELECT event_id, ts, user_id, event_type FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM (
        |    SELECT event_id AS s_id,
        |      CASE WHEN event_id % 4 = 0 THEN date_trunc('minute', ts)
        |        ELSE ts END AS s_ts
        |    FROM events WHERE event_id % 2 = 0) s
        |  WHERE e.event_id = s.s_id AND e.ts = s.s_ts)
        |ORDER BY event_id""".stripMargin,

    "evt_sessionize" ->
      """WITH base AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 7200000000
        |    THEN 1 ELSE 0 END AS new_sess FROM base),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS t_start, MAX(ts) AS t_end,
        |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "evt_microbatch_stats" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "evt_cardinality" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT date_trunc('day', ts)) AS n_days
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "evt_trending" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY bucket
        |    ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk FROM c)
        |SELECT bucket, event_type, n_events, rnk FROM r WHERE rnk <= 3
        |ORDER BY bucket, rnk""".stripMargin,

    // mean/E[x²] over exact integers (value·2^59 / value²·2^66 are
    // integral on this domain, HUGEINT sums) → order-independent
    // stats, bit-identical z
    // B28: the cross-moments accumulate exactly (longs + the B17
    // fixed-point HUGEINT casts); the double formulas mirror the
    // operator's operation order token for token
    "evt_regression" ->
      """WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(hour(ts)) AS BIGINT) AS sx_l,
        |    CAST(SUM(hour(ts) * hour(ts)) AS BIGINT) AS sxx_l,
        |    SUM(CAST(value * 576460752303423488.0 AS HUGEINT)) AS sy_fp,
        |    SUM(CAST(value * 576460752303423488.0 AS HUGEINT) * hour(ts)) AS sxy_fp,
        |    SUM(CAST(value * value * 73786976294838206464.0 AS HUGEINT)) AS syy_fp
        |  FROM events GROUP BY 1),
        |d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx_l AS DOUBLE) AS sx, CAST(sxx_l AS DOUBLE) AS sxx,
        |    CAST(sy_fp AS DOUBLE) / 576460752303423488.0 AS sy,
        |    CAST(sxy_fp AS DOUBLE) / 576460752303423488.0 AS sxy,
        |    CAST(syy_fp AS DOUBLE) / 73786976294838206464.0 AS syy
        |  FROM a),
        |f AS (SELECT event_type, n, nd, sx, sy,
        |    nd * sxx - sx * sx AS dx,
        |    nd * syy - sy * sy AS dy,
        |    nd * sxy - sx * sy AS cov
        |  FROM d)
        |SELECT event_type, n,
        |  CASE WHEN dx <= 0 THEN 0.0 ELSE cov / dx END AS slope,
        |  CASE WHEN dx <= 0 THEN 0.0
        |    ELSE (sy - (cov / dx) * sx) / nd END AS intercept,
        |  CASE WHEN dx <= 0 OR dy <= 0 THEN 0.0
        |    ELSE cov / sqrt(dx * dy) END AS corr
        |FROM f ORDER BY event_type""".stripMargin,

    "evt_value_zscore" ->
      """WITH s AS (SELECT event_type,
        |    CAST(SUM(CAST(value * 576460752303423488.0 AS HUGEINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 576460752303423488.0 AS mean,
        |    CAST(SUM(CAST(value * value * 73786976294838206464.0 AS HUGEINT))
        |      AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 73786976294838206464.0 AS m2
        |  FROM events GROUP BY event_type),
        |t AS (SELECT event_type, mean, sqrt(m2 - mean * mean) AS std FROM s),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |    CASE WHEN t.std = 0 THEN CAST(0 AS DOUBLE)
        |      ELSE (e.value - t.mean) / t.std END AS z
        |  FROM events e JOIN t USING (event_type))
        |SELECT event_id, event_type, value, z, abs(z) >= 3.0 AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin,

    // Spark's sliding window(ts, 10m, 5m) replicated: slide-aligned
    // floor of epoch micros, one row per (event, k) overlap offset
    "evt_sliding_error_rate" ->
      """WITH x AS (SELECT event_type,
        |    (epoch_us(ts) // 300000000 - k) * 300000000 AS ws_us
        |  FROM events, unnest([0, 1]) t(k)),
        |g AS (SELECT make_timestamp(ws_us) AS w_start,
        |    make_timestamp(ws_us + 600000000) AS w_end,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_errors
        |  FROM x GROUP BY ws_us)
        |SELECT w_start, w_end, n_events, n_errors,
        |  CAST(n_errors AS DOUBLE) / n_events AS err_rate
        |FROM g ORDER BY w_start""".stripMargin,

    "evt_handler_routing" ->
      """SELECT event_id, event_type, handler, CAST(priority AS BIGINT) AS priority,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY event_id
        |    ORDER BY priority DESC, handler) AS BIGINT) AS seq
        |FROM events JOIN (VALUES
        |  ('error','console',0),('error','file',1),('error','kafka',2),
        |  ('error','cassandra',3),('purchase','kafka',2),('purchase','cassandra',3),
        |  ('click','kafka',2),('view','kafka',2),('signup','file',1),
        |  ('signup','kafka',2)) AS r(r_type, handler, priority)
        |  ON event_type = r_type
        |ORDER BY event_id, seq""".stripMargin,

    "evt_error_burst" ->
      """SELECT user_id, event_id, ts, event_type, err_cnt_10 FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS err_cnt_10
        |  FROM events)
        |WHERE err_cnt_10 >= 3 ORDER BY user_id, event_id""".stripMargin,

    "evt_upsert_latest" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "evt_salted_stats" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "evt_change_ledger" ->
      """WITH cur AS (SELECT event_id AS c_id, ts AS c_ts FROM events
        |    WHERE event_id % 5 <> 0),
        |st AS (SELECT event_id AS s_id,
        |    CASE WHEN event_id % 4 = 0 THEN date_trunc('minute', ts)
        |      ELSE ts END AS s_ts
        |  FROM events WHERE event_id % 2 = 0),
        |j AS (SELECT *,
        |    CASE WHEN s_id IS NULL THEN 'NEW'
        |      WHEN c_id IS NULL THEN 'DELETED'
        |      WHEN c_ts <> s_ts THEN 'MODIFIED'
        |      ELSE 'UNCHANGED' END AS op
        |  FROM cur FULL OUTER JOIN st ON c_id = s_id)
        |SELECT COALESCE(c_id, s_id) AS event_id, op FROM j
        |WHERE op <> 'UNCHANGED' ORDER BY event_id""".stripMargin,

    "evt_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |    WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  1 + CAST(c.t_click IS NOT NULL AS BIGINT)
        |    + CAST(p.t_purchase IS NOT NULL AS BIGINT) AS funnel_depth
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "evt_resample_ffill" ->
      """WITH ev AS (SELECT user_id, event_id, ts, value FROM events),
        |b AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM ev GROUP BY user_id),
        |g AS (SELECT user_id,
        |    unnest(generate_series(date_trunc('hour', t0), t1,
        |      INTERVAL 15 MINUTE)) AS ts FROM b),
        |tagged AS (
        |  SELECT user_id, ts, 0 AS is_grid, event_id, value FROM ev
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS is_grid, NULL AS event_id, NULL AS value FROM g),
        |w AS (SELECT user_id, ts, is_grid,
        |    last_value(event_id IGNORE NULLS) OVER win AS last_event_id,
        |    last_value(value IGNORE NULLS) OVER win AS last_value
        |  FROM tagged
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, ts, last_event_id, last_value FROM w
        |WHERE is_grid = 1 ORDER BY user_id, ts""".stripMargin,

    "evt_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
        |    FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cohort,
        |    date_trunc('week', e.ts) AS wts
        |  FROM events e JOIN f USING (user_id)),
        |d AS (SELECT cohort,
        |    CAST(date_diff('day', CAST(cohort AS DATE), CAST(wts AS DATE)) / 7
        |      AS BIGINT) AS wk
        |  FROM a)
        |SELECT cohort, wk, COUNT(*) AS n_users FROM d
        |GROUP BY cohort, wk ORDER BY cohort, wk""".stripMargin,

    "evt_props_json" ->
      """SELECT event_id, k_val, k_val % 10 AS k_bucket FROM (
        |  SELECT event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |  FROM events)
        |ORDER BY event_id""".stripMargin,

    "evt_asof_prior" ->
      """SELECT user_id, event_id, ts, event_type, prior_error_id, prior_error_us
        |FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'error' THEN event_id END
        |      IGNORE NULLS) OVER w AS prior_error_id,
        |    LAST_VALUE(CASE WHEN event_type = 'error' THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER w AS prior_error_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |WHERE event_type <> 'error'
        |ORDER BY event_id""".stripMargin,

    // B24: lag window per (user_id, event_type) ordered (ts, event_id),
    // exact integer milli gaps, interpolated percentiles (the B11
    // quantile_cont ≡ percentile device)
    "evt_interarrival" ->
      """WITH m AS (SELECT user_id, event_type, event_id, ts,
        |    epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT event_type,
        |    ms - LAG(ms) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap_ms
        |  FROM m)
        |SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(MIN(gap_ms) AS BIGINT) AS min_gap_ms,
        |  quantile_cont(gap_ms, 0.5) AS p50_gap_ms,
        |  quantile_cont(gap_ms, 0.9) AS p90_gap_ms,
        |  CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // B24b: the alerting rule — gaps joined to their type's p90, the
    // 3x threshold compared in double exactly like the engine
    "evt_gap_anomaly" ->
      """WITH m AS (SELECT user_id, event_type, event_id, ts,
        |    epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, event_type, event_id,
        |    ms - LAG(ms) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap_ms
        |  FROM m),
        |gg AS (SELECT * FROM g WHERE gap_ms IS NOT NULL),
        |p AS (SELECT event_type, quantile_cont(gap_ms, 0.9) AS p90_gap_ms
        |  FROM gg GROUP BY event_type)
        |SELECT gg.event_type, user_id, event_id, gap_ms, p90_gap_ms
        |FROM gg JOIN p ON gg.event_type = p.event_type
        |WHERE CAST(gap_ms AS DOUBLE) > 3.0 * p90_gap_ms
        |ORDER BY gg.event_type, user_id, event_id""".stripMargin,

    "evt_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "file_meta_extract" ->
      s"""WITH p AS (SELECT doc_id, $PathSql AS path FROM documents)
         |SELECT doc_id, path,
         |  regexp_replace(path, '/[^/]*$$', '') AS folder,
         |  regexp_extract(path, '([^/]+)$$', 1) AS name,
         |  lower(regexp_extract(path, '(\\.[^./]+)$$', 1)) AS ext,
         |  CAST(length(path) - length(replace(path, '/', '')) AS BIGINT) AS depth
         |FROM p ORDER BY doc_id""".stripMargin,

    "file_pattern_filter" ->
      s"""SELECT doc_id, path FROM (SELECT doc_id, $PathSql AS path FROM documents)
         |WHERE regexp_matches(path, '.*\\.(log|txt)$$')
         |  AND NOT regexp_matches(path, '.*/deep/.*')
         |  AND length(path) - length(replace(path, '/', '')) <= 2
         |ORDER BY doc_id""".stripMargin,

    "bsi_testid_time" ->
      """WITH t AS (SELECT doc_id,
        |  'MBBIVS' || lpad(CAST(doc_id AS VARCHAR), 9, '0') || '_1W_1_2017-06-' ||
        |  lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '_' ||
        |  lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || '_' ||
        |  lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0') || '_' ||
        |  lpad(CAST(doc_id * 13 % 60 AS VARCHAR), 2, '0') || '_' ||
        |  lpad(CAST(doc_id * 31 % 1000 AS VARCHAR), 3, '0') AS testid
        |  FROM documents),
        |f AS (SELECT doc_id, testid,
        |  strptime(regexp_replace(right(testid, 23),
        |    '^(\d{4}-\d{2}-\d{2})_(\d{2})_(\d{2})_(\d{2})_(\d{3})$',
        |    '\1 \2:\3:\4.\5'), '%Y-%m-%d %H:%M:%S.%g') AS folder_time
        |  FROM t)
        |SELECT doc_id, testid, folder_time,
        |  strftime(folder_time, '%Y-%m-%d') AS file_date,
        |  folder_time AS create_time
        |FROM f ORDER BY doc_id""".stripMargin,

    "content_policy" ->
      s"""WITH p AS (SELECT doc_id, text, n_chars,
         |    lower(regexp_extract($PathSql, '(\\.[^./]+)$$', 1)) AS ext
         |  FROM documents),
         |c AS (SELECT *, (n_chars > 1024 AND NOT
         |    regexp_matches(ext, '(jpg|jpeg|gif|png|wmv|flv|zip|gz)$$')) AS compress
         |  FROM p)
         |SELECT doc_id, md5(text) AS checksum, n_chars AS size, ext, compress,
         |  CASE WHEN NOT compress THEN CAST(n_chars AS BIGINT) END AS compress_size
         |FROM c ORDER BY doc_id""".stripMargin,

    "kafka_envelope_key" ->
      s"""WITH b AS (SELECT doc_id, n_chars, $PathSql AS path FROM documents),
         |f AS (SELECT doc_id, n_chars,
         |    regexp_replace(path, '/[^/]*$$', '') AS folder,
         |    regexp_extract(path, '([^/]+)$$', 1) AS fname,
         |    lower(regexp_extract(path, '(\\.[^./]+)$$', 1)) = '.zip' AS is_zip
         |  FROM b),
         |g AS (SELECT doc_id, n_chars, folder,
         |    CASE WHEN is_zip THEN fname ELSE '' END AS pack,
         |    CASE WHEN is_zip THEN 'inner/' || regexp_replace(fname, '\\.zip$$', '.txt')
         |      ELSE fname END AS name,
         |    1704067200000 + doc_id * 60000 AS file_time
         |  FROM f)
         |SELECT doc_id,
         |  folder || '/' || (CASE WHEN pack = '' THEN name
         |    ELSE pack || '/' || name END) AS msg_key,
         |  pack, name,
         |  strftime(epoch_ms(file_time), '%Y-%m-%d') AS file_date,
         |  CAST(file_time AS BIGINT) AS file_time,
         |  n_chars AS size
         |FROM g ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS checksum, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS dup_cnt
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_source_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // D57: the review face — k rarest shared shingles per flagged pair
    "dedup_explain" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |    / CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE)
        |    >= ${operators.DedupOps.ExplainTau}),
        |dfp AS (SELECT lang, shingle, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM e GROUP BY 1, 2),
        |sh AS (SELECT p.a_id, p.b_id, a.lang, a.shingle
        |  FROM p JOIN e a ON a.doc_id = p.a_id
        |  JOIN e b ON b.doc_id = p.b_id AND b.lang = a.lang
        |    AND b.shingle = a.shingle),
        |r AS (SELECT sh.a_id, sh.b_id, sh.shingle, dfp.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY sh.a_id, sh.b_id
        |      ORDER BY dfp.df, sh.shingle) AS BIGINT) AS rnk
        |  FROM sh JOIN dfp ON sh.lang = dfp.lang AND sh.shingle = dfp.shingle)
        |SELECT a_id, b_id, shingle, df, rnk FROM r
        |WHERE rnk <= ${operators.DedupOps.ExplainK}
        |ORDER BY a_id, b_id, rnk""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS n_a, b.nsh AS n_b,
        |  COUNT(*) AS inter_cnt,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE) AS jacc
        |FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |  AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |HAVING COUNT(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,

    // D71: the prefix filter is lossless, so its output is DEFINED as
    // the naive blocked join at τ (no inter_cnt >= 2 floor: a
    // single-shingle pair can clear τ for tiny documents)
    "dedup_prefix_filter" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS n_a, b.nsh AS n_b,
        |  COUNT(*) AS inter_cnt,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE) AS jacc
        |FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |  AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |HAVING CAST(COUNT(*) AS DOUBLE)
        |  / CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE) >= ${operators.DedupOps.PrefixTau}
        |ORDER BY a_id, b_id""".stripMargin,

    // D73: asymmetric containment over the same candidate frame —
    // inter >= 2 mirrors ngramPairs' candidate floor
    "dedup_containment" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS n_a, b.nsh AS n_b,
        |  COUNT(*) AS inter_cnt,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(least(a.nsh, b.nsh) AS DOUBLE) AS cont
        |FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |  AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |HAVING COUNT(*) >= 2 AND CAST(COUNT(*) AS DOUBLE)
        |  / CAST(least(a.nsh, b.nsh) AS DOUBLE) >= ${operators.DedupOps.ContainTau}
        |ORDER BY a_id, b_id""".stripMargin,

    // D72: the oracle states the QUADRATIC domination definition; the
    // operator computes it distributively — parity proves the rewrite
    "doc_pareto_front" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_frac
        |  FROM documents)
        |SELECT doc_id, n_toks, uniq_frac FROM f q
        |WHERE NOT EXISTS (SELECT 1 FROM f p
        |  WHERE p.n_toks >= q.n_toks AND p.uniq_frac >= q.uniq_frac
        |    AND (p.n_toks > q.n_toks OR p.uniq_frac > q.uniq_frac))
        |ORDER BY n_toks DESC, doc_id""".stripMargin,

    // D72b: maintaining the front must equal the full-corpus skyline —
    // the same quadratic definition proves the distributive identity
    "doc_pareto_incremental" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_frac
        |  FROM documents)
        |SELECT doc_id, n_toks, uniq_frac FROM f q
        |WHERE NOT EXISTS (SELECT 1 FROM f p
        |  WHERE p.n_toks >= q.n_toks AND p.uniq_frac >= q.uniq_frac
        |    AND (p.n_toks > q.n_toks OR p.uniq_frac > q.uniq_frac))
        |ORDER BY n_toks DESC, doc_id""".stripMargin,

    // A28: pivot as conditional aggregates (exact decimal, double out)
    "q_pivot_returns" ->
      s"""SELECT l_linestatus,
        |  ${dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_a,
        |  ${dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS qty_n,
        |  ${dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_r
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_minhash_lsh" -> (MinhashSigSql +
      """,
        |bands AS (SELECT doc_id, lang, b, list_slice(sig, b*8+1, b*8+8) AS bh,
        |    sig FROM sig CROSS JOIN range(0, 8) t(b)),
        |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.sig AS sa, b.sig AS sb, COUNT(*) AS nb
        |  FROM bands a JOIN bands b ON a.lang = b.lang AND a.b = b.b
        |    AND a.bh = b.bh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a_id, b_id, CAST(nb AS BIGINT) AS n_bands_hit,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0
        |    AS est_jaccard
        |FROM pairs ORDER BY a_id, b_id""".stripMargin),

    // D74: candidate recall per band geometry vs the exact tau truth,
    // plus the analytic S-curve expectation over the same truth pairs
    // and the tuner's chosen geometry. Band values are slot-list
    // slices (the dedup_minhash_lsh device: list equality ≡ the
    // kernel's band-hash equality on this data); geometries nest
    // (64 = 4·16), so recall is monotone in bands. The S-curve
    // P = 1 − (1 − s^r)^b repeats the operator's left-associated
    // multiplication chains literally (no pow), per-pair values
    // floored to Q40 so the sum is order-independent.
    "dedup_recall" -> {
      def chain(x: String, n: Int): String =
        (2 to n).foldLeft(x)((a, _) => s"($a * $x)")
      def sCurve(b: Int, r: Int): String = {
        val inner = s"(CAST(1.0 AS DOUBLE) - ${chain("jacc", r)})"
        s"(CAST(1.0 AS DOUBLE) - ${chain(inner, b)})"
      }
      val expArms = operators.DedupOps.RecallGeoms.map { case (b, r) =>
        s"""SELECT $b AS gb, SUM(CAST(floor(${sCurve(b, r)} *
           | 1099511627776.0) AS BIGINT)) AS e FROM truth""".stripMargin
      }.mkString(" UNION ALL ")
      MinhashSigSql +
      s""",
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s),
        |truth AS (SELECT a_id, b_id, jacc FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE) AS jacc
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh)
        |  WHERE jacc >= ${operators.DedupOps.PrefixTau}),
        |geoms(gb, gr) AS (VALUES ${operators.DedupOps.RecallGeoms
           .map { case (b, r) => s"($b, $r)" }.mkString(", ")}),
        |banded AS (SELECT g.gb, g.gr, doc_id, lang,
        |    unnest(range(0, g.gb)) AS b, sig
        |  FROM sig CROSS JOIN geoms g),
        |bnd AS (SELECT gb, gr, doc_id, lang, b,
        |    list_slice(sig, b*gr+1, b*gr+gr) AS bh FROM banded),
        |cands AS (SELECT DISTINCT x.gb, x.gr, x.doc_id AS a_id,
        |    y.doc_id AS b_id
        |  FROM bnd x JOIN bnd y ON x.gb = y.gb AND x.gr = y.gr
        |    AND x.lang = y.lang AND x.b = y.b AND x.bh = y.bh
        |    AND x.doc_id < y.doc_id),
        |hits AS (SELECT c.gb, c.gr, COUNT(*) AS hits
        |  FROM cands c JOIN truth t ON c.a_id = t.a_id AND c.b_id = t.b_id
        |  GROUP BY 1, 2),
        |tot AS (SELECT COUNT(*) AS n_true FROM truth),
        |expv AS ($expArms),
        |expj AS (SELECT g.gb, g.gr, t.n_true,
        |    CAST(x.e AS DOUBLE) / (CAST(t.n_true AS DOUBLE)
        |      * 1099511627776.0) AS expected_recall
        |  FROM geoms g CROSS JOIN tot t JOIN expv x ON x.gb = g.gb),
        |pick AS (SELECT MIN(gb) AS pick FROM expj
        |  WHERE expected_recall >= ${operators.DedupOps.TuneTarget})
        |SELECT CAST(j.gb AS BIGINT) AS n_bands, CAST(j.gr AS BIGINT) AS n_rows,
        |  CAST(j.n_true AS BIGINT) AS n_true,
        |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(j.n_true AS DOUBLE)
        |    AS recall,
        |  j.expected_recall,
        |  p.pick IS NOT NULL AND j.gb = p.pick AS chosen
        |FROM expj j CROSS JOIN pick p
        |LEFT JOIN hits h ON h.gb = j.gb AND h.gr = j.gr
        |ORDER BY n_bands""".stripMargin
    },

    "dedup_minhash_verified" -> (MinhashSigSql +
      """,
        |bands AS (SELECT doc_id, lang, b, list_slice(sig, b*8+1, b*8+8) AS bh
        |    FROM sig CROSS JOIN range(0, 8) t(b)),
        |cands AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.lang = b.lang AND a.b = b.b
        |    AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |v AS (SELECT c.a_id, c.b_id,
        |    CAST(len(sa.shingles) AS BIGINT) AS n_a,
        |    CAST(len(sb.shingles) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
        |      AS inter_cnt
        |  FROM cands c JOIN s sa ON sa.doc_id = c.a_id
        |    JOIN s sb ON sb.doc_id = c.b_id)
        |SELECT a_id, b_id, n_a, n_b, inter_cnt,
        |  CAST(inter_cnt AS DOUBLE) / CAST(n_a + n_b - inter_cnt AS DOUBLE) AS jacc
        |FROM v
        |WHERE CAST(inter_cnt AS DOUBLE) / CAST(n_a + n_b - inter_cnt AS DOUBLE) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),

    // dedup_minhash_verified restricted to cross-partition pairs:
    // a = incoming crawl (doc_id % 10 = 7), b = standing corpus
    "dedup_incremental_lsh" -> (MinhashSigSql +
      """,
        |bands AS (SELECT doc_id, lang, b, list_slice(sig, b*8+1, b*8+8) AS bh
        |    FROM sig CROSS JOIN range(0, 8) t(b)),
        |cands AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.lang = b.lang AND a.b = b.b
        |    AND a.bh = b.bh
        |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
        |v AS (SELECT c.a_id, c.b_id,
        |    CAST(len(sa.shingles) AS BIGINT) AS n_a,
        |    CAST(len(sb.shingles) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
        |      AS inter_cnt
        |  FROM cands c JOIN s sa ON sa.doc_id = c.a_id
        |    JOIN s sb ON sb.doc_id = c.b_id)
        |SELECT a_id, b_id, n_a, n_b, inter_cnt,
        |  CAST(inter_cnt AS DOUBLE) / CAST(n_a + n_b - inter_cnt AS DOUBLE) AS jacc
        |FROM v
        |WHERE CAST(inter_cnt AS DOUBLE) / CAST(n_a + n_b - inter_cnt AS DOUBLE) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin),

    "dedup_simhash" ->
      (s"WITH $SimhashChainSql " +
       s"""SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sbands a JOIN sbands b ON a.k = b.k AND a.v = b.v
         |  AND a.doc_id < b.doc_id
         |WHERE CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT)
         |  <= ${operators.DedupOps.SimhashMaxHamming}
         |ORDER BY a_id, b_id""".stripMargin),

    // D75: the simhash pipeline's recall of the exact tau-Jaccard
    // truth — the simhash chain + the D71 truth chain + two counts
    "dedup_recall_simhash" ->
      (s"WITH $SimhashChainSql, " +
       s"""sd AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
         |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
         |ss AS (SELECT doc_id, lang,
         |    list_distinct(list_transform(range(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
         |  FROM sd),
         |se AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
         |    unnest(shingles) AS shingle FROM ss),
         |truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM se a JOIN se b ON a.lang = b.lang AND a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
         |  HAVING CAST(COUNT(*) AS DOUBLE)
         |    / CAST(a.nsh + b.nsh - COUNT(*) AS DOUBLE)
         |    >= ${operators.DedupOps.PrefixTau}),
         |tot AS (SELECT COUNT(*) AS n_true FROM truth),
         |hx AS (SELECT CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT)
         |      AS hamming
         |  FROM truth t JOIN ssig sa ON sa.doc_id = t.a_id
         |  JOIN ssig sb ON sb.doc_id = t.b_id),
         |hh AS (SELECT ${operators.DedupOps.SimhashSweepHammings.map(h =>
              s"SUM(CASE WHEN hamming <= $h THEN 1 ELSE 0 END) AS h$h")
              .mkString(", ")} FROM hx),
         |base AS (${operators.DedupOps.SimhashSweepHammings.map(h =>
              s"""SELECT CAST($h AS BIGINT) AS max_hamming,
                 |    CAST(${h + 1} AS BIGINT) AS n_bands,
                 |    CAST(tot.n_true AS BIGINT) AS n_true,
                 |    CAST(hh.h$h AS BIGINT) AS hits,
                 |    CAST(hh.h$h AS DOUBLE) / CAST(tot.n_true AS DOUBLE)
                 |      AS recall
                 |  FROM tot CROSS JOIN hh""".stripMargin)
              .mkString("\n|UNION ALL\n|")}),
         |pk AS (SELECT MIN(max_hamming) AS pick FROM base
         |  WHERE recall >= ${operators.DedupOps.TuneTarget})
         |SELECT b.max_hamming, b.n_bands, b.n_true, b.hits, b.recall,
         |  (pk.pick IS NOT NULL AND b.max_hamming = pk.pick) AS chosen
         |FROM base b CROSS JOIN pk
         |ORDER BY b.max_hamming""".stripMargin),

    // suffix-array-family span dedup: L=8 token windows fingerprinted
    // with the StrHash64 kernel (poly fold + splitmix64 — replicated
    // below in staged HUGEINT CTEs), duplicated = fingerprint at ≥2
    // sites corpus-wide, spans = merged overlapping windows per doc.
    "dedup_substring" -> {
      // generated from the SAME constant the operator defaults to, so
      // a window-length change cannot silently diverge from the oracle
      val L = operators.DedupOps.SubstringL
      val wtext = (1 to L).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, toks FROM d),
         |wi AS (SELECT doc_id, toks, unnest(range(0, n_toks - ${L - 1})) AS i
         |  FROM t WHERE n_toks >= $L),
         |wt AS (SELECT doc_id, i, $wtext AS wtext FROM wi),
         |w0 AS (SELECT doc_id, i AS start, ${strFold("wtext")} AS ph FROM wt),
         |w AS (SELECT doc_id, start, ${mix("ph")} AS whash FROM w0),
         |dup AS (SELECT whash FROM w GROUP BY whash HAVING COUNT(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, start + j AS pos
         |  FROM w JOIN dup USING (whash), range(0, $L) r(j)),
         |sp AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER
         |    (PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS ns
         |  FROM cov),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens,
         |    CAST(SUM(ns) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id)
         |SELECT t.doc_id, t.n_toks,
         |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / CAST(t.n_toks AS DOUBLE)
         |    AS dup_frac
         |FROM t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    // the dedup ACTION: same w/dup chain as dedup_substring, kept
    // tokens = positions outside the covered interval union,
    // reassembled in order
    "dedup_substring_scrub" -> {
      val L = operators.DedupOps.SubstringL
      val wtext = (1 to L).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, toks FROM d),
         |wi AS (SELECT doc_id, toks, unnest(range(0, n_toks - ${L - 1})) AS i
         |  FROM t WHERE n_toks >= $L),
         |wt AS (SELECT doc_id, i, $wtext AS wtext FROM wi),
         |w0 AS (SELECT doc_id, i AS start, ${strFold("wtext")} AS ph FROM wt),
         |w AS (SELECT doc_id, start, ${mix("ph")} AS whash FROM w0),
         |dup AS (SELECT whash FROM w GROUP BY whash HAVING COUNT(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, start + j AS pos
         |  FROM w JOIN dup USING (whash), range(0, $L) r(j)),
         |tp AS (SELECT doc_id, unnest(range(0, n_toks)) AS pos FROM t),
         |kept AS (SELECT tp.doc_id, tp.pos FROM tp LEFT JOIN cov
         |    ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
         |  WHERE cov.pos IS NULL),
         |sc AS (SELECT kept.doc_id,
         |    string_agg(t2.toks[kept.pos + 1], ' ' ORDER BY kept.pos)
         |      AS scrubbed_text,
         |    CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM kept JOIN t t2 ON t2.doc_id = kept.doc_id
         |  GROUP BY kept.doc_id)
         |SELECT t.doc_id, t.n_toks,
         |  CAST(COALESCE(sc.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(t.n_toks - COALESCE(sc.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(sc.scrubbed_text, '') AS scrubbed_text
         |FROM t LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    "dedup_clusters" -> DedupClustersSql,

    // D13b: the star-CC twin — IDENTICAL fixpoint (components rooted
    // at their min vertex), so the oracle is shared verbatim
    "dedup_clusters_star" -> DedupClustersSql,

    // D13's recursive components + text_quality's score arithmetic,
    // ROW_NUMBER()=1 per component by (score desc, doc_id)
    "dedup_keep_best" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM d),
        |e AS (SELECT doc_id, lang, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle FROM s),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
        |  HAVING COUNT(*) >= 2),
        |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(u, r) AS (
        |  SELECT doc_id AS u, doc_id AS r FROM documents
        |  UNION
        |  SELECT und.dst AS u, reach.r FROM reach JOIN und ON reach.u = und.src),
        |comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u),
        |sz AS (SELECT component, COUNT(*) AS cluster_size
        |  FROM comp GROUP BY component),
        |qt AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks
        |  FROM documents),
        |qc AS (SELECT doc_id, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |      AS BIGINT) AS punct_cnt
        |  FROM qt),
        |qr AS (SELECT doc_id,
        |    CAST(stop_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
        |    CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
        |    CASE WHEN n_chars BETWEEN 100 AND 2000 THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS len_ok
        |  FROM qc),
        |q AS (SELECT doc_id,
        |    CAST(0.5 AS DOUBLE) * stop_ratio
        |      + CAST(0.3 AS DOUBLE) * (CAST(1 AS DOUBLE) - punct_ratio)
        |      + CAST(0.2 AS DOUBLE) * len_ok AS score
        |  FROM qr),
        |j AS (SELECT comp.doc_id, comp.component, sz.cluster_size, q.score
        |  FROM comp JOIN sz USING (component) JOIN q USING (doc_id)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY component
        |    ORDER BY score DESC, doc_id) AS rn FROM j)
        |SELECT component, cluster_size, doc_id AS keeper_id,
        |  score AS keeper_score,
        |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,

    // the full manifest composition: dedup_keep_best's CC+quality chain
    // -> exact keep-first -> doc_mixture's quota rank -> doc_pack_tokens'
    // bin assignment, each stage the same SQL as its standalone oracle
    "corpus_build" -> CorpusBuildSql,
    // D28b: the incremental update's oracle IS the full rebuild — hash
    // parity proves the delta algebra (Bloom-gated keeper resolution,
    // mini-CC merge, touched-entity recompute) loses nothing
    "corpus_build_incremental" -> CorpusBuildSql,


    "dedup_incremental" -> IncrementalDedupSql,
    // D15c: same verdict contract as D15 — the Bloom pass is a plan
    // optimization, not a semantic change
    "dedup_incremental_bloom" -> IncrementalDedupSql,

    "doc_curation" ->
      s"""WITH t AS (SELECT doc_id, lang, text, n_chars,
        |    string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, lang, text, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |      AS BIGINT) AS punct_cnt,
        |    ${langCountColsSql(castBigint = true)}
        |  FROM t),
        |p AS (SELECT *, $langGreatestSql AS m FROM c),
        |f AS (SELECT *, ${langArgmaxCaseSql("m")} AS pred_lang
        |  FROM p),
        |r AS (SELECT doc_id, lang, text, pred_lang,
        |    CAST(0.5 AS DOUBLE) * (CAST(stop_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE))
        |    + CAST(0.3 AS DOUBLE) * (CAST(1 AS DOUBLE)
        |        - CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE))
        |    + CAST(0.2 AS DOUBLE) * (CASE WHEN n_chars BETWEEN 100 AND 2000
        |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS score
        |  FROM f),
        |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM r)
        |SELECT doc_id, score, pred_lang,
        |  (score >= 0.5 AND pred_lang = lang AND doc_id = keep_id) AS keep
        |FROM k ORDER BY doc_id""".stripMargin,

    "doc_sample_stratified" ->
      """SELECT doc_id, lang, h, rnk FROM (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 50 ORDER BY lang, rnk""".stripMargin,

    // D17b: Gumbel-max sampling ∝ token count per language — the draw
    // (gumbelSql) and the Q10 log-weight replicated exactly
    "doc_sample_weighted" ->
      s"""WITH d AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT)
        |      AS n_tokens FROM documents),
        |ky AS (SELECT doc_id, lang, n_tokens,
        |    CAST(${ql("greatest(n_tokens, 1)")} + $gumbelSql AS BIGINT)
        |      AS key_q10 FROM d),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY key_q10 DESC, doc_id) AS rnk FROM ky)
        |SELECT lang, doc_id, n_tokens, key_q10, CAST(rnk AS BIGINT) AS rnk
        |FROM rk WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    "doc_source_quality" ->
      """WITH qt AS (SELECT source, text, n_chars,
        |    string_split(text, ' ') AS toks FROM documents),
        |qc AS (SELECT source, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |      AS BIGINT) AS punct_cnt
        |  FROM qt),
        |qr AS (SELECT source,
        |    CAST(stop_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
        |    CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
        |    CASE WHEN n_chars BETWEEN 100 AND 2000 THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS len_ok
        |  FROM qc),
        |q AS (SELECT source,
        |    CAST(0.5 AS DOUBLE) * stop_ratio
        |      + CAST(0.3 AS DOUBLE) * (CAST(1 AS DOUBLE) - punct_ratio)
        |      + CAST(0.2 AS DOUBLE) * len_ok AS score
        |  FROM qr)
        |SELECT source, COUNT(*) AS n_docs,
        |  MIN(score) AS min_score,
        |  quantile_cont(score, 0.5) AS median_score,
        |  MAX(score) AS max_score
        |FROM q GROUP BY source ORDER BY source""".stripMargin,

    "doc_length_stats" ->
      """WITH t AS (SELECT lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  quantile_cont(n_chars, 0.1) AS chars_p10,
        |  quantile_cont(n_chars, 0.5) AS chars_p50,
        |  quantile_cont(n_chars, 0.9) AS chars_p90,
        |  quantile_cont(n_tok, 0.1) AS tok_p10,
        |  quantile_cont(n_tok, 0.5) AS tok_p50,
        |  quantile_cont(n_tok, 0.9) AS tok_p90
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_mixture" ->
      """WITH q AS (SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR)) AS h,
        |    (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 + 1) * 5
        |      AS quota
        |  FROM documents),
        |r AS (SELECT doc_id, source, quota, h,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
        |      AS BIGINT) AS rnk
        |  FROM q)
        |SELECT doc_id, source, quota, h, rnk FROM r
        |WHERE rnk <= quota ORDER BY source, rnk""".stripMargin,

    "doc_mixture_weighted" ->
      """WITH w(source, quota) AS (VALUES
        |    ('src0', CAST(40 AS BIGINT)), ('src2', CAST(10 AS BIGINT)),
        |    ('src3', CAST(25 AS BIGINT)), ('src5', CAST(30 AS BIGINT)),
        |    ('src7', CAST(5 AS BIGINT)), ('src12', CAST(15 AS BIGINT)),
        |    ('src19', CAST(50 AS BIGINT))),
        |q AS (SELECT d.doc_id, d.source AS src, w.quota,
        |    md5(CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM documents d JOIN w ON d.source = w.source),
        |r AS (SELECT doc_id, src, quota, h,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY h, doc_id)
        |      AS BIGINT) AS rnk
        |  FROM q)
        |SELECT doc_id, src AS source, quota, h, rnk FROM r
        |WHERE rnk <= quota ORDER BY source, rnk""".stripMargin,

    "doc_decontaminate" ->
      """WITH ev(eval_id, etext) AS (VALUES
        |    (CAST(0 AS BIGINT), 'the table fast key value table part scan row agg'),
        |    (CAST(1 AS BIGINT), 'group window hash merge data query batch line sort column'),
        |    (CAST(2 AS BIGINT), 'spark stream filter join value big small slow vector customer')),
        |et AS (SELECT eval_id, string_split(etext, ' ') AS toks FROM ev
        |  WHERE len(string_split(etext, ' ')) >= 3),
        |es AS (SELECT eval_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM et),
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |ds AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS nsh,
        |    unnest(shingles) AS shingle
        |  FROM (SELECT doc_id, list_distinct(list_transform(
        |      range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |    FROM d)),
        |j AS (SELECT doc_id, eval_id, nsh, COUNT(*) AS n_hits
        |  FROM ds JOIN es USING (shingle) GROUP BY doc_id, eval_id, nsh)
        |SELECT doc_id, eval_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(n_hits AS DOUBLE) / CAST(nsh AS DOUBLE) AS hit_frac
        |FROM j WHERE n_hits >= 1 ORDER BY doc_id, eval_id""".stripMargin,

    // chunk=32, overlap=8, stride=24; final chunk = tail remainder
    "doc_chunk" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents),
        |t AS (SELECT doc_id, lang, toks,
        |    CAST(len(toks) AS BIGINT) AS n_toks FROM d),
        |n AS (SELECT *, CASE WHEN n_toks <= 32 THEN 1
        |    ELSE CAST(ceil(CAST(n_toks - 32 AS DOUBLE) / 24) AS BIGINT) + 1
        |    END AS n_chunks FROM t),
        |c AS (SELECT doc_id, lang, toks, n_toks,
        |    unnest(range(0, n_chunks)) AS chunk_id FROM n),
        |s AS (SELECT doc_id, lang, chunk_id,
        |    chunk_id * 24 AS tok_start,
        |    least(chunk_id * 24 + 32, n_toks) AS tok_end, toks FROM c)
        |SELECT doc_id, lang, chunk_id, CAST(tok_start AS BIGINT) AS tok_start,
        |  CAST(tok_end AS BIGINT) AS tok_end,
        |  CAST(tok_end - tok_start AS BIGINT) AS n_chunk_toks,
        |  array_to_string(list_slice(toks, tok_start + 1, tok_end), ' ')
        |    AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "doc_pack_tokens" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens, bucket,
        |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |  CAST((SUM(n_tokens) OVER w - 1) // 256 AS BIGINT) AS bin_id
        |FROM t WINDOW w AS (PARTITION BY lang, bucket ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin,

    "text_vocab" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |c AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY 1, 2),
        |tt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_tokens
        |  FROM t GROUP BY 1),
        |r AS (SELECT lang, tok, cnt, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY lang ORDER BY cnt DESC, tok) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT r.lang AS lang, tok, cnt, rnk,
        |  CAST(cnt AS DOUBLE) / CAST(lang_tokens AS DOUBLE) AS tok_frac
        |FROM r JOIN tt ON r.lang = tt.lang
        |WHERE rnk <= 50 ORDER BY r.lang, rnk""".stripMargin,

    "dedup_lines" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |    FROM documents),
        |l AS (SELECT doc_id,
        |    CAST(unnest(range(0, CAST(floor((len(toks) - 1) / ${DedupOps.LineTok}.0)
        |      AS BIGINT) + 1)) AS BIGINT) AS line_no, toks
        |  FROM d),
        |x AS (SELECT doc_id, line_no, array_to_string(
        |    toks[(line_no * ${DedupOps.LineTok} + 1):((line_no + 1) * ${DedupOps.LineTok})],
        |    ' ') AS line FROM l),
        |f AS (SELECT doc_id, line_no, line, ROW_NUMBER() OVER
        |    (PARTITION BY md5(line) ORDER BY doc_id, line_no) AS rn
        |  FROM x)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, ' '
        |    ORDER BY line_no), '')) AS clean_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_similar" -> docSimilarSql(anchorPred = ""),

    // D54: reciprocal rank fusion of the D50 idf ranking and the
    // capped-shingle jaccard ranking over the SAME candidate pairs
    // (anchor set = doc_id % 20 = 3). Rank 0 = absent from that
    // system's top-20 (never NULL — nullable ints render differently
    // on the gate's two read paths).
    "doc_similar_rrf" -> DocSimilarRrfSqlShared,

    "doc_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks
        |    FROM documents),
        |c AS (SELECT doc_id, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
        |      AS tok_chars,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS alpha_cnt,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_hits,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS digit_cnt
        |  FROM t)
        |SELECT doc_id, n_tok, tok_chars, alpha_cnt, stop_hits, digit_cnt,
        |  (n_tok BETWEEN 5 AND 1000) AS r_word_count,
        |  (3 * n_tok <= tok_chars AND tok_chars <= 10 * n_tok) AS r_mean_word_len,
        |  (5 * alpha_cnt >= 4 * n_tok) AS r_alpha_share,
        |  (stop_hits >= 2) AS r_stopwords,
        |  (10 * digit_cnt <= CAST(n_chars AS BIGINT)) AS r_digit_share,
        |  ((n_tok BETWEEN 5 AND 1000)
        |    AND (3 * n_tok <= tok_chars AND tok_chars <= 10 * n_tok)
        |    AND (5 * alpha_cnt >= 4 * n_tok) AND (stop_hits >= 2)
        |    AND (10 * digit_cnt <= CAST(n_chars AS BIGINT))) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(toks) - 1 AS BIGINT) AS n_grams,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM d),
        |b2 AS (SELECT doc_id, n_tok, n_grams,
        |    CAST(n_grams - len(list_distinct(grams)) AS DOUBLE)
        |      / CAST(n_grams AS DOUBLE) AS dup_2gram_frac
        |  FROM base),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_tok_cnt
        |  FROM c GROUP BY 1)
        |SELECT b2.doc_id AS doc_id, n_tok, n_grams, dup_2gram_frac, top_tok_cnt,
        |  CAST(top_tok_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_tok_frac
        |FROM b2 JOIN m ON b2.doc_id = m.doc_id ORDER BY b2.doc_id""".stripMargin,

    "text_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS scrub_md5
        |FROM p ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[.,;:!?]', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH t AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks
        |    FROM documents),
        |c AS (SELECT doc_id, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |      AS BIGINT) AS punct_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS digit_cnt,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS tok_chars
        |  FROM t),
        |r AS (SELECT doc_id, n_tok, stop_cnt, punct_cnt, digit_cnt,
        |    CAST(stop_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
        |    CAST(punct_cnt AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
        |    CAST(tok_chars AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_word_len,
        |    CASE WHEN n_chars BETWEEN 100 AND 2000 THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS len_ok
        |  FROM c)
        |SELECT doc_id, n_tok, stop_cnt, punct_cnt, digit_cnt,
        |  stop_ratio, punct_ratio, avg_word_len,
        |  CAST(0.5 AS DOUBLE) * stop_ratio
        |    + CAST(0.3 AS DOUBLE) * (CAST(1 AS DOUBLE) - punct_ratio)
        |    + CAST(0.2 AS DOUBLE) * len_ok AS score
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |    FROM documents),
        |c AS (SELECT doc_id, lang,
        |    ${langCountColsSql(castBigint = true)}
        |  FROM t),
        |p AS (SELECT *, $langGreatestSql AS m FROM c),
        |f AS (SELECT doc_id, lang, $langCountNamesSql,
        |    ${langArgmaxCaseSql("m")} AS pred_lang
        |  FROM p)
        |SELECT doc_id, lang, $langCountNamesSql, pred_lang,
        |  pred_lang = lang AS is_match
        |FROM f ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      (WinnowFpCtes +
       " SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, " +
       "fps[1] AS min_fp, fps[len(fps)] AS max_fp " +
       "FROM w ORDER BY doc_id"),

    // D4b: fingerprint-containment pairs (shared / smaller fp set >= 0.5);
    // blocking key = the fingerprint itself
    "dedup_winnow" ->
      (WinnowFpCtes + ", " +
       "e0 AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM w), " +
       "rare AS (SELECT fp FROM e0 GROUP BY fp " +
       "HAVING COUNT(*) <= (SELECT greatest(1, least(COUNT(*) // 20, " +
       s"${operators.DedupOps.WinnowDfCap})) FROM documents)), " +
       "ef AS (SELECT e0.doc_id, e0.fp FROM e0 JOIN rare ON e0.fp = rare.fp), " +
       "nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp " +
       "FROM ef GROUP BY doc_id), " +
       "e AS MATERIALIZED (SELECT ef.doc_id, nf.n_fp, ef.fp FROM ef JOIN nf USING (doc_id)), " +
       "p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
       "a.n_fp AS n_a, b.n_fp AS n_b, CAST(COUNT(*) AS BIGINT) AS shared_fp " +
       "FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
       "GROUP BY 1, 2, 3, 4) " +
       "SELECT a_id, b_id, shared_fp, CAST(shared_fp AS DOUBLE) " +
       "/ CAST(least(n_a, n_b) AS DOUBLE) AS containment " +
       "FROM p WHERE CAST(shared_fp AS DOUBLE) " +
       "/ CAST(least(n_a, n_b) AS DOUBLE) >= 0.5 ORDER BY a_id, b_id"),

    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e),
        |s AS (SELECT q_id, c_id, list_dot_product(qv, cv) / (qn * cn) AS sim
        |  FROM c, q WHERE q_id <> c_id),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    "ann_lsh" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, probe
         |  FROM b, unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |    xor(bucket, 4), xor(bucket, 8)]) t(probe)
         |  WHERE vec_id % 50 = 0),
         |s AS (SELECT q_id, c.vec_id AS c_id,
         |    list_dot_product(qv, c.v) / (qn * c.nrm) AS sim
         |  FROM b c JOIN q ON q.probe = c.bucket AND q.q_id <> c.vec_id),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
         |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 10
         |ORDER BY q_id, rnk""".stripMargin),

    // D58: SQ8 ADC search — the oracle re-derives the per-dim affine
    // model, the code map, and the midpoint-dequant dot product with
    // the IDENTICAL operation shape and order (left-associated
    // (x−mn)·256.0/dl, mn + (code+0.5)·dl/256.0, sequential-fold dot),
    // so IEEE doubles match the engine bit-for-bit
    "ann_sq8_adc" ->
      s"""WITH $Sq8CommonSql,
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY adc DESC, c_id) AS BIGINT) AS rnk FROM s)
         |SELECT q_id, c_id, adc, rnk FROM r WHERE rnk <= 10
         |ORDER BY q_id, rnk""".stripMargin,

    // D58b: exact-cosine re-rank of the ADC R=50 shortlist
    "ann_sq8_rerank" -> Sq8RerankSql,

    // Full IVF pipeline replicated: first-16 seed → one Lloyd round with
    // EXACT integer means (x·2^50 is integral for every component — the
    // Spark side sums DECIMAL(38,0), here HUGEINT; both exact and
    // order-independent) → nprobe=1 inverted lists → nprobe=4 probe
    // assignment → per-probe cosine top-10.
    "ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |seed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
        |  FROM e ORDER BY $ivfSeedOrder LIMIT 16),
        |s0 AS (SELECT e.vec_id, e.v, s.cid,
        |    list_dot_product(e.v, s.cv) / (e.nrm * s.cnrm) AS sim
        |  FROM e, seed s),
        |a1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s0)
        |  WHERE rn = 1),
        |cm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
        |  FROM a1),
        |cx AS (SELECT cid, pos,
        |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
        |  FROM cm GROUP BY cid, pos),
        |ref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM cx GROUP BY cid),
        |ref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
        |  FROM ref),
        |l0 AS (SELECT e.vec_id, e.v, e.nrm, r.cid,
        |    list_dot_product(e.v, r.cv) / (e.nrm * r.cnrm) AS sim
        |  FROM e, ref2 r),
        |lists AS (SELECT cid AS c_cid, vec_id AS c_id, v AS cv2, nrm AS cn
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM l0) WHERE rn = 1),
        |probes AS (SELECT cid AS q_cid, vec_id AS q_id, v AS qv, nrm AS qn
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM l0 WHERE vec_id % 50 = 0)
        |  WHERE rn <= 4),
        |sc AS (SELECT q_id, c_id, list_dot_product(qv, cv2) / (qn * cn) AS sim
        |  FROM lists JOIN probes ON q_cid = c_cid AND q_id <> c_id),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM sc)
        |SELECT q_id, c_id, sim, rnk FROM r WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    // D56: the k-step MMR unroll (builder above)
    "ann_mmr" -> annMmrSql,

    // D53: the planner's exact arm for the selective predicate
    // (label = 3, ~10% ≤ threshold 0.2): brute-force cosine over only
    // the matching slice.
    "ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e WHERE label = 3),
        |s AS (SELECT q_id, c_id, list_dot_product(qv, cv) / (qn * cn) AS sim
        |  FROM c, q WHERE q_id <> c_id),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, c_id, sim, rnk, 'exact' AS path FROM r WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    // D53b: the planner's IVF arm for the broad predicate (label ≠ 0,
    // ~90% > threshold): the full ann_ivf chain with labels carried
    // into the lists and the predicate applied inside the probe join.
    "ann_filtered_ivf" -> AnnFilteredIvfSql,

    // D53c: the served face reads the persisted labeled lists +
    // quantizer — hash parity proves the layout round-trip lossless
    "layout_ann_filtered" -> AnnFilteredIvfSql,

    // D54b: the RRF ensemble served from the persisted shingle
    // postings — same definition, hash parity
    "layout_doc_similar_rrf" -> DocSimilarRrfSqlShared,

    // D51: the ann_ivf chain with labels carried and a label-mismatch
    // filter before the per-anchor top-5 — hard negatives for
    // contrastive training.
    "emb_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |seed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
        |  FROM e ORDER BY $ivfSeedOrder LIMIT 16),
        |s0 AS (SELECT e.vec_id, e.v, s.cid,
        |    list_dot_product(e.v, s.cv) / (e.nrm * s.cnrm) AS sim
        |  FROM e, seed s),
        |a1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s0)
        |  WHERE rn = 1),
        |cm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
        |  FROM a1),
        |cx AS (SELECT cid, pos,
        |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
        |  FROM cm GROUP BY cid, pos),
        |ref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM cx GROUP BY cid),
        |ref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
        |  FROM ref),
        |l0 AS (SELECT e.vec_id, e.label, e.v, e.nrm, r.cid,
        |    list_dot_product(e.v, r.cv) / (e.nrm * r.cnrm) AS sim
        |  FROM e, ref2 r),
        |lists AS (SELECT cid AS c_cid, vec_id AS c_id, label AS c_label,
        |    v AS cv2, nrm AS cn
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM l0) WHERE rn = 1),
        |probes AS (SELECT cid AS q_cid, vec_id AS q_id, label AS q_label,
        |    v AS qv, nrm AS qn
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM l0 WHERE vec_id % 50 = 0)
        |  WHERE rn <= 4),
        |sc AS (SELECT q_id, q_label, c_id, c_label,
        |    list_dot_product(qv, cv2) / (qn * cn) AS sim
        |  FROM lists JOIN probes ON q_cid = c_cid AND q_id <> c_id
        |    AND q_label <> c_label),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM sc)
        |SELECT q_id, q_label, c_id, c_label, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin,

    // The measured recall contract: exact top-10 (ann_cosine_topk's
    // chain), LSH top-10 per probe count, IVF top-10 per nprobe (the
    // ann_ivf chain), hits counted per configuration. Probe counts and
    // nprobe values come from AnnOps's own constants.
    "ann_recall" -> AnnRecallSql,

    // D76: the k-NN graph itself — the full deterministic NN-descent
    // unrolled (init off the IVF cells + anchors, GraphRounds
    // neighbor-of-neighbor rounds); a build regression is a hash
    // mismatch, not a drifting recall number
    "ann_graph_build" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, ${hpBucket(4)} AS bucket FROM e),
         |$IvfListsCtes,
         |$graphChainCtes
         |SELECT src, dst, sim, CAST(rnk AS BIGINT) AS rnk
         |FROM g${operators.AnnOps.GraphRounds} ORDER BY src, rnk""".stripMargin,

    // D76b: the beam walk over the graph (anchors → GraphHops
    // expansions → exact top-10 of the final beam)
    "ann_graph" -> AnnGraphSql,

    // D76c: the served graph face shares D76b's oracle — hash parity
    // proves the persisted adjacency + anchors lossless
    "layout_ann_graph" -> AnnGraphSql,

    // D76d: rebuild-free graph growth — the insert chain + the %50
    // serve over the grown graph (each query's appended twin must
    // surface, so reachability of new points is hash-pinned)
    "ann_graph_appended" -> AnnGraphAppendedSql,

    // D76f: metadata-filtered graph search — label predicate inside
    // the walk (anchors + expansions), before the beam heap
    "ann_graph_filtered" -> AnnGraphFilteredSql,

    // D76e: the DiskANN shape — the walk navigates on PQ codes (ADC
    // legs), exact re-rank of the final beam only
    "ann_graph_pq" -> AnnGraphPqSql,

    // D10f: the D74 tuner device on the D10e curve — per-nprobe recall
    // for the IVF-backed serving families + chosen = smallest nprobe
    // meeting the target; one CTE over the SAME generated curve SQL,
    // so tuner and curve cannot drift
    "ann_probe_tuner" ->
      s"""WITH curve AS ($AnnRecallSql),
         |cv AS (SELECT method, param, hits, n_exact, recall FROM curve
         |  WHERE method IN (${operators.AnnOps.ProbeTuneMethods
             .map(m => s"'$m'").mkString(", ")})),
         |pk AS (SELECT method, MIN(param) AS pick FROM cv
         |  WHERE recall >= ${operators.AnnOps.ProbeTuneTarget}
         |  GROUP BY method)
         |SELECT cv.method, cv.param, cv.hits, cv.n_exact, cv.recall,
         |  (pk.pick IS NOT NULL AND cv.param = pk.pick) AS chosen
         |FROM cv LEFT JOIN pk ON cv.method = pk.method
         |ORDER BY cv.method, cv.param""".stripMargin,

    // the ann_ivf oracle's pipeline truncated at the nprobe=1
    // corpus assignment (the cluster-label step)
    "emb_cluster_assign" ->
      (ClusterAssignCtes + " SELECT vec_id, cid FROM asg ORDER BY vec_id"),

    // D25b: the assignment chain + a salted-splitmix64 rank capped at
    // quota per cluster (the D17 selection device over clusters)
    "emb_sample_balanced" ->
      (ClusterAssignCtes +
        s", ky AS (SELECT cid, vec_id, " +
        s"CAST(${signed64(mix("CAST(vec_id + 7919 AS HUGEINT)"))} AS BIGINT) AS h FROM asg), " +
        "rk AS (SELECT cid, vec_id, h, ROW_NUMBER() OVER (PARTITION BY cid " +
        "ORDER BY h, vec_id) AS rnk FROM ky) " +
        "SELECT cid, vec_id, h, CAST(rnk AS BIGINT) AS rnk FROM rk " +
        "WHERE rnk <= 10 ORDER BY cid, rnk"),

    "dedup_embedding" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, ${hpBucket(6)} AS bucket FROM e),
         |p AS (SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
         |    list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) AS cos
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.35
         |ORDER BY a_id, b_id""".stripMargin),

    // D12's pair graph closed transitively (recursive CTE), one
    // component label + size per embedding
    "dedup_embedding_clusters" ->
      (s"""WITH RECURSIVE
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, nrm, ${hpBucket(6)} AS bucket FROM e),
         |p AS (SELECT a.vec_id AS a_id, b2.vec_id AS b_id
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) >= 0.35),
         |und AS (SELECT a_id AS src, b_id AS dst FROM p
         |  UNION ALL SELECT b_id, a_id FROM p),
         |reach(u, r) AS (
         |  SELECT vec_id AS u, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT und.dst AS u, reach.r FROM reach JOIN und ON reach.u = und.src),
         |comp AS (SELECT u AS vec_id, MIN(r) AS component FROM reach GROUP BY u)
         |SELECT comp.vec_id, comp.component, sz.cluster_size
         |FROM comp JOIN (SELECT component, COUNT(*) AS cluster_size
         |  FROM comp GROUP BY component) sz USING (component)
         |ORDER BY vec_id""".stripMargin),

    "emb_label_stats" ->
      """WITH e AS (SELECT label,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n, MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
        |FROM e GROUP BY label ORDER BY label""".stripMargin,

    // D22b: every corpus (label<>0) vector vs every eval (label=0)
    // vector, exact cosine, count/max of hits >= tau
    "decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |ev AS (SELECT vec_id AS e_id, v AS evec, nrm AS en FROM e WHERE label = 0),
        |c AS (SELECT vec_id, v, nrm FROM e WHERE label <> 0),
        |p AS (SELECT c.vec_id,
        |    list_dot_product(c.v, ev.evec) / (c.nrm * ev.en) AS cos
        |  FROM c JOIN ev ON c.vec_id <> ev.e_id),
        |h AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MAX(cos) AS max_cos
        |  FROM p WHERE cos >= 0.35 GROUP BY 1)
        |SELECT c.vec_id, COALESCE(n_hits, 0) AS n_hits, max_cos,
        |  COALESCE(n_hits, 0) > 0 AS contaminated
        |FROM c LEFT JOIN h USING (vec_id) ORDER BY vec_id""".stripMargin,

    // D33: product quantization — PqS subspaces x PqK codes; seed =
    // PqK hash-spread subvectors (k = rank by ivfSeedOrder), one Lloyd round with
    // the same exact-integer HUGEINT mean ann_ivf uses; L2 via the dot
    // identity (no division), argmin ties -> k asc; err summed in s
    // order
    "emb_pq_codes" -> {
      val cs = (0 until PqS)
        .map(i => s"MAX(CASE WHEN s = $i THEN k END) AS c$i").mkString(", ")
      val ds = (0 until PqS)
        .map(i => s"MAX(CASE WHEN s = $i THEN d END) AS d$i").mkString(", ")
      PqCtes + s""",
        |w AS (SELECT vec_id, $cs, $ds
        |  FROM a1 GROUP BY vec_id)
        |SELECT vec_id, ${(0 until PqS).map(i => s"c$i").mkString(", ")},
        |  ${(0 until PqS).map(i => s"d$i").mkString(" + ")} AS err
        |FROM w ORDER BY vec_id""".stripMargin
    },

    // D33b: ADC search — per-query distance table vs the refined
    // codebooks, candidate distance = 4 table lookups summed in s order
    "ann_pq_adc" ->
      (PqAdcCtes + """,
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY adc, c_id) AS BIGINT) AS rnk FROM adc0)
        |SELECT q_id, c_id, adc, rnk FROM r WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin),

    // D33c: two-stage retrieval — ADC top-R shortlist, exact cosine
    // re-rank of the shortlist only
    "ann_pq_rerank" ->
      (PqAdcCtes + s""",
        |short AS (SELECT q_id, c_id FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY q_id ORDER BY adc, c_id) AS arnk FROM adc0)
        |  WHERE arnk <= ${operators.AnnOps.PqRerankR}),
        |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |ex AS (SELECT s.q_id, s.c_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |  FROM short s
        |  JOIN en q ON q.vec_id = s.q_id
        |  JOIN en c ON c.vec_id = s.c_id),
        |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM ex)
        |SELECT q_id, c_id, sim, rnk FROM rr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin),

    // D33d: the composed IVF-PQ stack — the ann_ivf chain (first-16
    // seed, exact-integer Lloyd, nprobe lists) supplies the probed
    // candidate sets; adc0 supplies their compressed distances; top-R
    // per query by ADC, exact cosine re-rank of the shortlist only
    "ann_ivfpq" -> {
      val np = operators.AnnOps.IvfPqNprobe
      val rr = operators.AnnOps.IvfPqR
      val m = operators.AnnOps.DefaultM
      PqAdcCtes + s""",
        |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |iseed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
        |  FROM en ORDER BY $ivfSeedOrder LIMIT $m),
        |is0 AS (SELECT en.vec_id, en.v, s.cid,
        |    list_dot_product(en.v, s.cv) / (en.nrm * s.cnrm) AS sim
        |  FROM en, iseed s),
        |ia1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM is0)
        |  WHERE rn = 1),
        |icm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
        |  FROM ia1),
        |icx AS (SELECT cid, pos,
        |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
        |  FROM icm GROUP BY cid, pos),
        |iref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM icx GROUP BY cid),
        |iref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
        |  FROM iref),
        |il0 AS (SELECT en.vec_id, r.cid,
        |    list_dot_product(en.v, r.cv) / (en.nrm * r.cnrm) AS sim
        |  FROM en, iref2 r),
        |ilists AS (SELECT cid AS c_cid, vec_id AS c_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM il0) WHERE rn = 1),
        |iprobes AS (SELECT cid AS q_cid, vec_id AS q_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cid) AS rn FROM il0 WHERE vec_id % 50 = 0)
        |  WHERE rn <= $np),
        |icand AS (SELECT a.q_id, a.c_id, a.adc FROM adc0 a
        |  JOIN iprobes p ON p.q_id = a.q_id
        |  JOIN ilists l ON l.c_id = a.c_id AND l.c_cid = p.q_cid),
        |ishort AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS arnk
        |  FROM icand) WHERE arnk <= $rr),
        |iex AS (SELECT s.q_id, s.c_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |  FROM ishort s
        |  JOIN en q ON q.vec_id = s.q_id
        |  JOIN en c ON c.vec_id = s.c_id),
        |irr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM iex)
        |SELECT q_id, c_id, sim, rnk FROM irr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin
    },

    // D33f: residual IVF-PQ — codes quantize v − cq(centroid) (the
    // FAISS IVFPQ layout); centroids float-quantized (floor(c·2^24 +
    // 0.5)/2^24) so residuals stay multiples of 2^-50 and the
    // exact-integer Lloyd mean remains engine-replicable; per-probe
    // query residuals, per-(q, list) ADC tables, shortlist, exact
    // re-rank
    "ann_ivfpq_res" -> {
      val rr = operators.AnnOps.IvfPqR
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${resChainCtes("", PqS)},
        |rshort AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS arnk
        |  FROM adcres) WHERE arnk <= $rr),
        |rex AS (SELECT s.q_id, s.c_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |  FROM rshort s
        |  JOIN ren q ON q.vec_id = s.q_id
        |  JOIN ren c ON c.vec_id = s.c_id),
        |rrr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk FROM rex)
        |SELECT q_id, c_id, sim, rnk FROM rrr WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin
    },

    // D35: posting lists doc-sorted, serialized "doc:tf ..." so the
    // layout hash-compares across engines
    "text_inverted_postings" -> InvertedPostingsSql,
    // D70: the incremental merge must equal the FULL rebuild — same SQL
    "postings_incremental" -> InvertedPostingsSql,

    // D34: BM25 with rational idf = (N-df+0.5)/(df+0.5) — no libm log,
    // same bit-reproducibility contract as doc_keywords; expression
    // shapes mirror TextOps.docSearchBm25 operator-for-operator
    "doc_search_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM d),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t
        |  WHERE tok IN ('scan', 'window', 'merge') GROUP BY 1, 2),
        |tfw AS (SELECT doc_id,
        |    COALESCE(MAX(CASE WHEN tok = 'scan' THEN cnt END), 0) AS tf0,
        |    COALESCE(MAX(CASE WHEN tok = 'window' THEN cnt END), 0) AS tf1,
        |    COALESCE(MAX(CASE WHEN tok = 'merge' THEN cnt END), 0) AS tf2
        |  FROM tf GROUP BY doc_id),
        |dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |dfw AS (SELECT
        |    COALESCE(MAX(CASE WHEN tok = 'scan' THEN df END), 0) AS df0,
        |    COALESCE(MAX(CASE WHEN tok = 'window' THEN df END), 0) AS df1,
        |    COALESCE(MAX(CASE WHEN tok = 'merge' THEN df END), 0) AS df2
        |  FROM dfc),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS total FROM d),
        |st2 AS (SELECT n_docs,
        |    CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st),
        |s AS (SELECT l.doc_id, l.n_tok,
        |    COALESCE(tf0, 0) AS tf0, COALESCE(tf1, 0) AS tf1,
        |    COALESCE(tf2, 0) AS tf2, df0, df1, df2, n_docs, avgdl
        |  FROM l LEFT JOIN tfw USING (doc_id) CROSS JOIN dfw CROSS JOIN st2),
        |sc AS (SELECT doc_id, n_tok,
        |  (CAST(n_docs - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)
        |    * (CAST(tf0 AS DOUBLE) * 2.2)
        |    / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75
        |      + 0.75 * CAST(n_tok AS DOUBLE) / avgdl))
        |  + (CAST(n_docs - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)
        |    * (CAST(tf1 AS DOUBLE) * 2.2)
        |    / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75
        |      + 0.75 * CAST(n_tok AS DOUBLE) / avgdl))
        |  + (CAST(n_docs - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)
        |    * (CAST(tf2 AS DOUBLE) * 2.2)
        |    / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75
        |      + 0.75 * CAST(n_tok AS DOUBLE) / avgdl)) AS score
        |  FROM s),
        |r AS (SELECT doc_id, n_tok, score, CAST(ROW_NUMBER() OVER
        |    (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        |  FROM sc WHERE score > 0.0)
        |SELECT doc_id, n_tok, score, rnk FROM r WHERE rnk <= 20
        |ORDER BY rnk""".stripMargin,

    // D31: rational tf-idf — score = (tf*N)/df, integer cross products,
    // one double division (bit-reproducible; no libm log)
    "doc_keywords" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |dfv AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tok, tf, df,
        |    CAST(CAST(tf AS HUGEINT) * n_docs AS DOUBLE)
        |      / CAST(df AS DOUBLE) AS score
        |  FROM tf JOIN dfv USING (tok) CROSS JOIN n),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, tok) AS BIGINT) AS rnk FROM s)
        |SELECT doc_id, tok, tf, df, score, rnk FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,

    // D32: rational PMI — assoc = (c_ab*N)/(c_a*c_b), same exactness
    // contract as doc_keywords
    "text_collocations" ->
      """WITH d AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT lang, unnest(toks) AS tok FROM d),
        |ca AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM u GROUP BY 1, 2),
        |n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens
        |  FROM u GROUP BY 1),
        |bgl AS (SELECT lang, list_transform(range(1, len(toks)),
        |    i -> [toks[i], toks[i+1]]) AS grams FROM d WHERE len(toks) >= 2),
        |bg AS (SELECT lang, unnest(grams) AS g FROM bgl),
        |cab AS (SELECT lang, g[1] AS tok1, g[2] AS tok2,
        |    CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2, 3
        |  HAVING COUNT(*) >= 3),
        |s AS (SELECT cab.lang AS lang, tok1, tok2, c_ab, a.c AS c_a, b.c AS c_b,
        |    CAST(CAST(c_ab AS HUGEINT) * n_tokens AS DOUBLE)
        |      / CAST(CAST(a.c AS HUGEINT) * b.c AS DOUBLE) AS assoc
        |  FROM cab
        |  JOIN ca a ON cab.lang = a.lang AND cab.tok1 = a.tok
        |  JOIN ca b ON cab.lang = b.lang AND cab.tok2 = b.tok
        |  JOIN n ON cab.lang = n.lang),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY assoc DESC, tok1, tok2) AS BIGINT) AS rnk FROM s)
        |SELECT lang, tok1, tok2, c_ab, c_a, c_b, assoc, rnk FROM r
        |WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin,

    "media_features" -> {
      // fakeDecode replication: h = fold((31·h + byte) mod 2^64) from
      // 1125899906842597; f_d = ((h xor (0x9e3779b97f4a7c15·(d+1))) mod
      // 1000 signed) / 1000 as float
      val hfold = "list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), " +
        "list_transform(range(1, length(text)+1), " +
        "i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))), " +
        s"(acc, b) -> (${mulmod("acc", "31")} + b) % $M64)"
      val x = xor64("h", mulmod("11400714819323198485", "d"))
      val feat = s"CAST(CAST((${signed64(x)} % 1000) AS DOUBLE) / 1000.0 AS FLOAT)"
      val featCols = (0 until 16)
        .map(i => s"features[${i + 1}] AS f$i").mkString(", ")
      "WITH d AS (SELECT doc_id, text, " +
      "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind " +
      "FROM documents), " +
      "h AS (SELECT doc_id AS media_id, kind, CAST(length(text) AS BIGINT) AS n_bytes, " +
      s"$hfold AS h FROM d), " +
      "f AS (SELECT media_id, kind, n_bytes, " +
      s"list_transform(range(1, 17), d -> $feat) AS features FROM h) " +
      s"SELECT media_id, kind, n_bytes, $featCols FROM f ORDER BY media_id"
    },

    "media_feature_stats" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  COUNT(*) AS n,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // F6: the Spark side REALLY encodes + decodes PNGs (JDK ImageIO);
    // the oracle computes the same channel sums analytically from the
    // deterministic pixel function — a hash match proves the codec
    // roundtrip preserved every pixel
    // F9: dHash56 replicated from the analytic pixel functions (the F6
    // roundtrip proof makes decoded == analytic), then the same 4×14
    // banding + exact Hamming verify as the Spark side.
    "media_image_dedup" ->
      """WITH ids AS (SELECT doc_id AS media_id FROM documents
        |    WHERE doc_id % 3 = 0),
        |bits AS (SELECT media_id, x, y,
        |    CASE WHEN ((media_id*7+(x+1)*3+y*5) % 256
        |          + (media_id*11+(x+1)*13+y*17) % 256
        |          + (media_id*19+(x+1)*23+y*29) % 256) // 3
        |        > ((media_id*7+x*3+y*5) % 256
        |          + (media_id*11+x*13+y*17) % 256
        |          + (media_id*19+x*23+y*29) % 256) // 3
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit,
        |    y*7 + x AS pos
        |  FROM ids, range(0, 7) rx(x), range(0, 8) ry(y)),
        |hs AS (SELECT media_id,
        |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY 1),
        |bd AS (SELECT media_id, dhash, b AS band_id,
        |    (dhash >> CAST(14*b AS INT)) & 16383 AS band_val
        |  FROM hs, range(0, 4) rb(b)),
        |p AS (SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
        |    a.dhash AS da, b.dhash AS db
        |  FROM bd a JOIN bd b ON a.band_id = b.band_id
        |    AND a.band_val = b.band_val AND a.media_id < b.media_id)
        |SELECT a_id, b_id,
        |  CAST(bit_count(xor(da, db)) AS BIGINT) AS hamming
        |FROM p WHERE bit_count(xor(da, db)) <= 6
        |ORDER BY a_id, b_id""".stripMargin,

    "media_image_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id,
        |    CAST(8 + doc_id % 5 AS BIGINT) AS width,
        |    CAST(8 + doc_id % 3 AS BIGINT) AS height
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT media_id, width, height, x, y
        |  FROM ids, range(0, 13) rx(x), range(0, 11) ry(y)
        |  WHERE x < width AND y < height),
        |s AS (SELECT media_id, width, height,
        |    CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |    CAST(SUM((media_id*7 + x*3 + y*5) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((media_id*11 + x*13 + y*17) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((media_id*19 + x*23 + y*29) % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT media_id, width, height, n_pixels, sum_r, sum_g, sum_b,
        |  CAST(sum_r AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS mean_r,
        |  CAST(sum_g AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS mean_g,
        |  CAST(sum_b AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // F7: the audio twin — the Spark side REALLY encodes + decodes
    // 16-bit PCM WAV (JDK javax.sound.sampled); the oracle computes
    // the amplitude stats analytically from the sample function
    "media_audio_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id,
        |    CAST(800 + (doc_id % 5) * 100 AS BIGINT) AS n_samples
        |  FROM documents WHERE doc_id % 3 = 1),
        |sm AS (SELECT media_id, n_samples,
        |    ((media_id*31 + i*7) % 65536) - 32768 AS s
        |  FROM ids, range(0, 1300) r(i) WHERE i < n_samples),
        |g AS (SELECT media_id, n_samples,
        |    CAST(SUM(s) AS BIGINT) AS sum_amp,
        |    CAST(MIN(s) AS BIGINT) AS min_amp,
        |    CAST(MAX(s) AS BIGINT) AS max_amp
        |  FROM sm GROUP BY 1, 2)
        |SELECT media_id, n_samples, sum_amp, min_amp, max_amp,
        |  CAST(sum_amp AS DOUBLE) / CAST(n_samples AS DOUBLE) AS mean_amp
        |FROM g ORDER BY media_id""".stripMargin,

    // F8: the video twin — the Spark side REALLY encodes + decodes
    // multi-frame animated GIFs (JDK ImageIO, indexed palette so the
    // roundtrip is lossless); the oracle computes frame-count ×
    // channel sums analytically from the index function + palette
    "media_video_stats" ->
      """WITH ids AS (SELECT doc_id AS media_id,
        |    CAST(8 + doc_id % 5 AS BIGINT) AS width,
        |    CAST(8 + doc_id % 3 AS BIGINT) AS height,
        |    CAST(3 + doc_id % 4 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |px AS (SELECT media_id, n_frames, width, height,
        |    (media_id*7 + f*37 + x*3 + y*5) % 256 AS v
        |  FROM ids, range(0, 7) t(f), range(0, 13) r1(x), range(0, 11) r2(y)
        |  WHERE f < n_frames AND x < width AND y < height),
        |s AS (SELECT media_id, n_frames, width, height,
        |    CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |    CAST(SUM(v) AS BIGINT) AS sum_r,
        |    CAST(SUM(255 - v) AS BIGINT) AS sum_g,
        |    CAST(SUM((v*7 + 13) % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT media_id, n_frames, width, height, n_pixels,
        |  sum_r, sum_g, sum_b,
        |  CAST(sum_r AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS mean_r
        |FROM s ORDER BY media_id""".stripMargin,

    // D37: deterministic export manifest over the corpus_build output —
    // shard = splitmix64(doc_id) mod 8 (mod 2⁶⁴ arithmetic replicated
    // in HUGEINT; 8 divides 2⁶⁴ so unsigned mod ≡ Spark's pmod of the
    // signed word), checksum = sum mod 2⁶⁴ of per-doc xor'd mixes
    "corpus_export_shards" -> {
      val fpU = xor64(mix("CAST(doc_id AS HUGEINT)"),
        mix("CAST(n_tokens + 7919 AS HUGEINT)"))
      val ckM = s"(SUM(fp_u) % $M64)"
      s"""WITH cb AS ($CorpusBuildSql),
        |mx AS (SELECT doc_id, n_tokens, bin_id,
        |    CAST((${mix("CAST(doc_id AS HUGEINT)")}) % 8 AS BIGINT) AS shard,
        |    $fpU AS fp_u
        |  FROM cb)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        |  CAST(CASE WHEN $ckM >= 9223372036854775808
        |    THEN $ckM - $M64 ELSE $ckM END AS BIGINT) AS ck
        |FROM mx GROUP BY shard ORDER BY shard""".stripMargin
    },

    // D38: bigram-LM cross-entropy in Q10 fixed point — the qlog2
    // kernel (IntKernels.scala) replicated with bin()+shifts; the
    // reference model is the standing corpus (doc_id % 10 != 7), so
    // delta docs exercise the unigram-backoff branch in this oracle
    "doc_lm_score" -> lmScoreSql(deltaOnly = false),

    // D39: the BPE merge loop UNROLLED into one SQL pipeline — stage k
    // recounts weighted adjacent pairs over the stage-(k−1) symbol
    // states, picks the argmax (count desc, pair asc), and applies it
    // as a literal leftmost-nonoverlapping replace on the
    // doubled-separator state string (the exact semantics of the
    // driver loop's String.replace — see BpeOps). Stage CTEs are
    // MATERIALIZED: each bs_k is referenced 4× by s_k, and inlining
    // would expand the chain 5^M-fold.
    "bpe_train" ->
      (BpeStageCtes + "mm AS (" +
        (1 to BpeM).map(k =>
          s"SELECT CAST($k AS BIGINT) AS merge_rank, lhs, rhs, " +
          s"lhs || rhs AS merged, pc AS pair_cnt FROM bs$k")
          .mkString(" UNION ALL ") +
        ") SELECT * FROM mm ORDER BY merge_rank"),

    // D19b: token-budget packing on the BPE piece counts (the D19
    // window shape over the tokenizer's per-doc totals)
    "doc_pack_bpe" ->
      (BpeStageCtes +
        "wc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents) GROUP BY 1, 2), " +
        s"seg AS (SELECT w, CAST(len(list_filter(string_split(st, '||'), " +
        s"x -> x <> '')) AS BIGINT) AS n_pieces FROM s$BpeM), " +
        "dp AS (SELECT doc_id, CAST(SUM(n * n_pieces) AS BIGINT) AS n_pieces " +
        "FROM wc JOIN seg ON wc.tok = seg.w GROUP BY doc_id), " +
        "dd AS (SELECT d.doc_id, d.lang, dp.n_pieces, " +
        "CAST(d.doc_id % 8 AS BIGINT) AS bucket " +
        "FROM documents d JOIN dp ON d.doc_id = dp.doc_id) " +
        "SELECT doc_id, lang, n_pieces, bucket, " +
        "CAST(SUM(n_pieces) OVER w AS BIGINT) AS cum_pieces, " +
        "CAST((SUM(n_pieces) OVER w - 1) // 1024 AS BIGINT) AS bin_id " +
        "FROM dd WINDOW w AS (PARTITION BY lang, bucket ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY doc_id"),

    // D39b: apply the final symbol states to per-doc word counts. The
    // join covers every corpus word because VocabCap exceeds the test
    // corpora's distinct-word count; the Spark side applies the merge
    // chain to ANY word (OOV words get the same fold), spec-pinned.
    "text_tokenize_bpe" ->
      (BpeStageCtes +
        "wc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents) GROUP BY 1, 2), " +
        s"seg AS (SELECT w, CAST(len(list_filter(string_split(st, '||'), " +
        s"x -> x <> '')) AS BIGINT) AS n_pieces FROM s$BpeM) " +
        "SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words, " +
        "CAST(SUM(n * n_pieces) AS BIGINT) AS n_pieces, " +
        "CAST(CAST(SUM(n * n_pieces) AS BIGINT) AS DOUBLE) " +
        "/ CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS pieces_per_word " +
        "FROM wc JOIN seg ON wc.tok = seg.w " +
        "GROUP BY doc_id ORDER BY doc_id"),

    // D40: DSIR importance weights — hashed-n-gram LLR scores in Q10
    // (qlog2 + splitmix64 replicated; Buckets divides 2^64 so the
    // unsigned mod equals Spark's pmod of the signed word)
    "doc_importance_weights" -> (DsirCtes +
      " SELECT doc_id, n_feats, logw_q10, " +
      "CAST(logw_q10 AS DOUBLE) / 1024.0 AS logw_bits " +
      "FROM wt ORDER BY doc_id"),

    // D40b: base-2 Gumbel-top-k resample — the deterministic draw
    // (salted splitmix64 top 53 bits -> two qlog2 applications)
    // replicated exactly, then ROW_NUMBER over the keyed weights
    "doc_importance_resample" -> {
      val g = gumbelSql
      DsirCtes +
        s", ky AS (SELECT doc_id, n_feats, logw_q10, $g AS gumbel_q10 FROM wt), " +
        "k2 AS (SELECT doc_id, n_feats, logw_q10, gumbel_q10, " +
        "CAST(logw_q10 + gumbel_q10 AS BIGINT) AS key_q10 FROM ky), " +
        "rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY key_q10 DESC, doc_id) AS rnk FROM k2) " +
        "SELECT doc_id, n_feats, logw_q10, gumbel_q10, key_q10, " +
        s"CAST(rnk AS BIGINT) AS rnk FROM rk WHERE rnk <= ${operators.DsirOps.SampleK} ORDER BY rnk"
    }
  )

  /** The one-refinement-round exact-integer Lloyd assignment chain
    * (replicates AnnOps.assignFor at m = 16, rounds = 1), ending in
    * `asg(vec_id, cid)` — shared by emb_cluster_assign and the
    * cluster-balanced sample.
    */
  private lazy val ClusterAssignCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |seed AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
      |  FROM e ORDER BY $ivfSeedOrder LIMIT 16),
      |s0 AS (SELECT e.vec_id, e.v, s.cid,
      |    list_dot_product(e.v, s.cv) / (e.nrm * s.cnrm) AS sim
      |  FROM e, seed s),
      |a1 AS (SELECT vec_id, v, cid FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s0)
      |  WHERE rn = 1),
      |cm AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x
      |  FROM a1),
      |cx AS (SELECT cid, pos,
      |    CAST(SUM(CAST(x * 1125899906842624.0 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) / 1125899906842624.0 AS x
      |  FROM cm GROUP BY cid, pos),
      |ref AS (SELECT cid, list(x ORDER BY pos) AS cv FROM cx GROUP BY cid),
      |ref2 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
      |  FROM ref),
      |l0 AS (SELECT e.vec_id, r.cid,
      |    list_dot_product(e.v, r.cv) / (e.nrm * r.cnrm) AS sim
      |  FROM e, ref2 r),
      |asg AS (SELECT vec_id, cid, sim FROM (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM l0)
      |  WHERE rn = 1)""".stripMargin.replace("\n", " ")

  /** The deterministic base-2 Gumbel draw (DsirOps.gumbelQ10)
    * replicated: u = salted splitmix64 top 53 bits + 1, two ql()
    * applications. The u = 2^53 atom (probability 2^-53): the Scala
    * kernel's unsigned shift survives it (qlog2(2^53) = 53·1024, l
    * clamps to 1) but DuckDB's `<< 10` overflows BIGINT there —
    * clamping u to 2^53−1 yields the identical draw (l = 1 either
    * way). Shared by doc_importance_resample and doc_sample_weighted.
    */
  private def gumbelSql: String = {
    val u0 = s"((${mix(s"CAST(doc_id + ${operators.DsirOps.Salt} AS HUGEINT)")}) // 2048 + 1)"
    val u = s"least($u0, 9007199254740991)"
    val l = s"(${53 * 1024} - ${ql(u)})"
    s"(10240 - ${ql(s"greatest($l, 1)")})"
  }

  /** D40 shared CTE chain: hashed unigram+bigram features (StrHash =
    * poly fold + splitmix64, bucket = mod Buckets), per-bucket add-one
    * LLR scores vs the standing corpus, per-crawl-doc Q10 weights.
    */
  private lazy val DsirCtes: String = {
    val B = operators.DsirOps.Buckets
    val bucket = s"CAST((${mix(strFold("feat"))}) % $B AS BIGINT)"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |f0 AS (SELECT doc_id, unnest(toks) AS feat FROM d
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS feat FROM d),
      |f AS MATERIALIZED (SELECT doc_id, $bucket AS bucket FROM f0),
      |tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM f
      |  WHERE doc_id % 10 != 7 GROUP BY 1),
      |rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM f
      |  WHERE doc_id % 10 = 7 GROUP BY 1),
      |nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM tc),
      |nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS n FROM rc),
      |sc AS (SELECT rc.bucket,
      |    (${ql("coalesce(tc.ct, 0) + 1")} - ${ql(s"nt.n + $B")})
      |  - (${ql("rc.cr + 1")} - ${ql(s"nr.n + $B")}) AS score
      |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN nt CROSS JOIN nr),
      |pd AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM f WHERE doc_id % 10 = 7 GROUP BY 1, 2),
      |wt AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
      |    CAST(SUM(n * score) AS BIGINT) AS logw_q10
      |  FROM pd JOIN sc USING (bucket) GROUP BY doc_id)""".stripMargin
        .replace("\n", " ")
  }

  /** Monotone integer log2, Q10 — replication of IntMath.qlog2:
    * q(n) = bl·1024 + ((n<<10) >> bl) − 1024, bl = floor(log2 n) via
    * the length of DuckDB's minimal binary rendering.
    */
  private def ql(x: String): String = {
    val n = s"CAST(($x) AS BIGINT)"
    val bl = s"(length(bin($n)) - 1)"
    s"(CAST($bl AS BIGINT) * 1024 + (($n << 10) >> $bl) - 1024)"
  }

  /** D38 oracle, shared by the session query and the persisted-LM
    * delta probe (deltaOnly scores just the crawl split).
    */
  private def lmScoreSql(deltaOnly: Boolean): String = {
    val scored = if (deltaOnly) "WHERE doc_id % 10 = 7" else ""
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |    FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |r AS (SELECT * FROM d WHERE doc_id % 10 != 7),
      |ru AS (SELECT unnest(toks) AS tok FROM r),
      |cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ru GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ru),
      |rbl AS (SELECT list_transform(range(1, len(toks)),
      |    i -> [toks[i], toks[i+1]]) AS grams FROM r),
      |rb AS (SELECT unnest(grams) AS g FROM rbl),
      |cb AS (SELECT g[1] AS tok1, g[2] AS tok2,
      |    CAST(COUNT(*) AS BIGINT) AS c_ab FROM rb GROUP BY 1, 2),
      |tl AS (SELECT doc_id, list_transform(range(1, len(toks)),
      |    i -> [toks[i], toks[i+1]]) AS grams FROM d $scored),
      |tr AS (SELECT doc_id, unnest(grams) AS g FROM tl),
      |tj AS (SELECT doc_id,
      |    CASE WHEN cb.c_ab IS NOT NULL
      |      THEN ${ql("a.c")} - ${ql("cb.c_ab")}
      |      ELSE ${ql("nn.n")} - ${ql("coalesce(b.c, 1)")} + 4096 END AS bits
      |  FROM tr
      |  LEFT JOIN cb ON tr.g[1] = cb.tok1 AND tr.g[2] = cb.tok2
      |  LEFT JOIN cu a ON tr.g[1] = a.tok
      |  LEFT JOIN cu b ON tr.g[2] = b.tok
      |  CROSS JOIN nn)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |  CAST(SUM(bits) AS BIGINT) AS xent_q10,
      |  CAST(CAST(SUM(bits) AS BIGINT) AS DOUBLE)
      |    / (1024.0 * CAST(COUNT(*) AS DOUBLE)) AS bits_per_trans
      |FROM tj GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val BpeM = operators.BpeOps.Merges
  /** The unrolled BPE stage chain (shared by bpe_train and
    * text_tokenize_bpe): h0 = top-V word histogram, s0 = char-split
    * "||c1||c2||…||" states, then M× (pair count → argmax → replace).
    */
  private lazy val BpeStageCtes: String = {
    val sb = new StringBuilder
    sb ++= "WITH h0 AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS cnt " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
      s"GROUP BY 1 ORDER BY cnt DESC, w LIMIT ${operators.BpeOps.VocabCap}), "
    sb ++= "s0 AS (SELECT w, cnt, '||' || array_to_string(" +
      "list_transform(range(1, length(w)+1), i -> substr(w, i, 1)), '||') " +
      "|| '||' AS st FROM h0), "
    for (k <- 1 to BpeM) {
      val p = s"s${k - 1}"
      sb ++= s"sy$k AS (SELECT cnt, list_filter(string_split(st, '||'), " +
        s"x -> x <> '') AS sy FROM $p), "
      sb ++= s"pr$k AS (SELECT cnt, unnest(list_transform(range(1, len(sy)), " +
        s"i -> [sy[i], sy[i+1]])) AS g FROM sy$k), "
      sb ++= s"pk$k AS (SELECT g[1] AS lhs, g[2] AS rhs, " +
        s"CAST(SUM(cnt) AS BIGINT) AS pc FROM pr$k GROUP BY 1, 2), "
      sb ++= s"bs$k AS MATERIALIZED (SELECT lhs, rhs, pc FROM pk$k " +
        s"ORDER BY pc DESC, lhs, rhs LIMIT 1), "
      sb ++= s"s$k AS MATERIALIZED (SELECT w, cnt, replace(st, " +
        s"coalesce('|' || (SELECT lhs FROM bs$k) || '||' || " +
        s"(SELECT rhs FROM bs$k) || '|', chr(167)), " +
        s"coalesce('|' || (SELECT lhs FROM bs$k) || " +
        s"(SELECT rhs FROM bs$k) || '|', chr(167))) AS st FROM $p), "
    }
    sb.toString
  }
}
