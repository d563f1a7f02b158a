package graft

import java.nio.file.Files

import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.functions._

/** Streaming operators must agree with their batch duals on the real
  * events table: same gap ⇒ same sessions/bursts, independent of how
  * events fall into micro-batches (within-batch gap splitting + the
  * event-time-timeout flush must compose to batch semantics).
  */
class StreamBatchParitySpec extends GraftSpec {
  import spark.implicits._

  private lazy val evs = Tables.events(spark, Sf).filter(col("user_id") <= 3)
    .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  private def flush(dir: String): Unit =
    (0L to 3L).map(u => (999990L + u, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), u, "x", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(dir)

  test("sessionizeStream == batch sessionize (2h gap) on real events") {
    val expected = operators.EventOps.sessionize(spark, Sf)
      .filter(col("user_id") <= 3)
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 100) / 100))
      .toSeq.sorted
    val d = Files.createTempDirectory("sess_par").toFile.getAbsolutePath
    evs.write.mode("overwrite").parquet(d)
    val q = StreamOps.sessionizeStream(
        spark.readStream.schema(evs.schema).parquet(d).as[Ev],
        gapMs = 2 * 3600 * 1000, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_par").outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("sess_par").filter(col("t_start") < "2029-01-01")
        .select("user_id", "n_events", "total_value").as[(Long, Long, Double)]
        .collect().map(r => (r._1, r._2, math.rint(r._3 * 100) / 100)).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
    } finally q.stop()
  }

  test("nearDupStream == batch dedupIncrementalLsh on the real corpus") {
    val expected = operators.CurationOps.dedupIncrementalLsh(spark, Sf)
      .select("a_id", "b_id", "inter_cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val d = Files.createTempDirectory("ndup_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("lang"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.nearDupStreamFor(spark, Sf,
        spark.readStream.schema(incoming.schema).parquet(d),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("ndup_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ndup_par")
        .select("a_id", "b_id", "inter_cnt").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty, "parity fixture found no near-dup pairs at all")
    } finally q.stop()
  }

  test("dedupLinesStream: survivors = new-vs-corpus digests, re-arrival suppressed") {
    import graft.operators.DedupOps
    // plain-Scala expectation: corpus digest set from the standing
    // partition, then incoming lines keep one occurrence per digest
    def linesOf(text: String): Seq[String] =
      text.split(" ", -1).grouped(DedupOps.LineTok).map(_.mkString(" ")).toSeq
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)
    val corpusDigests = docs.filter(_._1 % 10 != 7)
      .flatMap(d => linesOf(d._2)).map(md5hex).toSet
    val incomingDocs = docs.filter(_._1 % 10 == 7)
    val expectedDigests = incomingDocs.flatMap(d => linesOf(d._2))
      .map(md5hex).distinct.filterNot(corpusDigests.contains).toSet
    assert(expectedDigests.nonEmpty, "fixture yields no new lines")

    val d = Files.createTempDirectory("lines_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.dedupLinesStreamFor(spark, Sf,
        spark.readStream.schema(incoming.schema).parquet(d),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("lines_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got1 = spark.table("lines_par").select("h").as[String].collect()
      assert(got1.length == got1.distinct.length, "digest emitted twice")
      assert(got1.toSet == expectedDigests,
        s"streamed ${got1.length} vs expected ${expectedDigests.size}")
      // re-arrival inside the watermark: the same shard again adds no rows
      incoming.write.mode("append").parquet(d)
      q.processAllAvailable()
      val got2 = spark.table("lines_par").count()
      assert(got2 == got1.length.toLong, "re-arrival was not suppressed")
    } finally q.stop()
  }

  test("vocabNoveltyStream: novel tokens == corpus_drift_summary new_tokens, re-arrival suppressed") {
    // plain-Scala expectation: delta vocab minus standing vocab
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val baseVocab = docs.filter(_._1 % 10 != 7)
      .flatMap(d => d._3.split(" ", -1).map(t => (d._2, t))).toSet
    val organic = docs.filter(_._1 % 10 == 7)
      .flatMap(d => d._3.split(" ", -1).map(t => (d._2, t)))
      .distinct.filterNot(baseVocab.contains).toSet
    // batch-side consistency: new_tokens IS the organic novel-vocab
    // count per lang (plain-Scala re-derivation)
    val batchNew = graft.operators.ProfileOps.corpusDriftSummary(spark, Sf)
      .select("lang", "new_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    batchNew.foreach { case (l, n) =>
      assert(n == organic.count(_._1 == l).toLong,
        s"$l: batch new_tokens $n vs re-derived ${organic.count(_._1 == l)}")
    }
    // the tiny sf has no organic novelty — inject a crawl doc whose
    // tokens the standing corpus has never seen (and one it has)
    val known = baseVocab.find(_._1 == "en").get
    val synthTokens = Set(("en", "zzqnovel1"), ("en", "zzqnovel2"))
    synthTokens.foreach(t => assert(!baseVocab.contains(t)))
    val expected = organic ++ synthTokens
    assert(expected.nonEmpty)

    val d = Files.createTempDirectory("vocab_nov").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 7).select("doc_id", "lang", "text")
      .unionByName(Seq((999999901L, "en",
        s"zzqnovel1 zzqnovel2 zzqnovel1 ${known._2}"))
        .toDF("doc_id", "lang", "text"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.vocabNoveltyStreamFor(spark, Sf,
        spark.readStream.schema(incoming.schema).parquet(d))
      .writeStream.format("memory").queryName("vocab_nov")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("vocab_nov").select("lang", "tok")
        .as[(String, String)].collect()
      assert(got.length == got.distinct.length, "novel token emitted twice")
      assert(got.toSet == expected)
      // the same shard re-arriving adds nothing (vocab state holds)
      incoming.write.mode("append").parquet(d)
      q.processAllAvailable()
      assert(spark.table("vocab_nov").count() == got.length.toLong)
    } finally q.stop()
  }

  test("dedupLinesStream: within-batch survivor is the batch-pinned min(doc_id, line_no)") {
    val lineL = (1 to 10).map(i => s"l$i").mkString(" ")
    val filler = (1 to 10).map(i => s"f$i").mkString(" ")
    val d = Files.createTempDirectory("lines_det").toFile.getAbsolutePath
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // ONE micro-batch: doc 17 carries L at line_no 1, doc 27 at
    // line_no 0 — the survivor must be (17, 1), the batch operator's
    // min(doc_id, line_no), never the partition-order pick
    Seq((27L, lineL, t0), (17L, s"$filler $lineL", t0))
      .toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(d)
    val emptyCorpus = Seq.empty[String].toDF("h")
    val q = StreamOps.dedupLinesStream(
        spark.readStream.schema(
          spark.read.parquet(d).schema).parquet(d), emptyCorpus,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("lines_det")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lines_det")
        .filter(col("line") === lineL)
        .select("doc_id", "line_no").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.toSeq == Seq((17L, 1)), s"survivor wrong: ${got.toSeq}")
    } finally q.stop()
  }

  test("decontaminateStream == batch decontaminate on the real corpus") {
    val evalSet = operators.CurationOps.demoEvalSet(spark)
    val expected = operators.CurationOps.decontaminate(spark, Sf, evalSet, minHits = 1)
      .select("doc_id", "eval_id", "n_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val d = Files.createTempDirectory("decon_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.decontaminateStream(
        spark.readStream.schema(incoming.schema).parquet(d), evalSet, minHits = 1)
      .writeStream.format("memory").queryName("decon_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("decon_par")
        .select("doc_id", "eval_id", "n_hits").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty, "parity fixture produced no contamination hits")
    } finally q.stop()
  }

  test("interarrivalStream gaps == batch lag window, split across micro-batches") {
    // batch reference: the same lag the B24 aggregate consumes
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val expected = Tables.events(spark, Sf).filter(col("user_id") <= 3)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .select("user_id", "event_type", "event_id", "gap_ms")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    val d = Files.createTempDirectory("gap_par").toFile.getAbsolutePath
    // split by a GLOBAL time cutoff and append the later half only
    // after the first is processed: arrival order respects event
    // order per key, so streamed gaps must equal the lag window
    // EXACTLY — including the cross-batch gap, which only recovered
    // per-key state can produce
    val cutoff = evs.agg(expr("percentile(unix_millis(ts), 0.5)"))
      .head().getDouble(0).toLong
    val early = evs.filter(unix_millis(col("ts")) < cutoff)
    val late = evs.filter(unix_millis(col("ts")) >= cutoff)
    assert(early.count() > 0 && late.count() > 0)
    early.write.mode("append").parquet(d)
    val q = StreamOps.interarrivalStream(
        spark.readStream.schema(evs.schema).parquet(d).as[Ev])
      .writeStream.format("memory").queryName("gap_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterEarly = spark.table("gap_par").count()
      late.write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("gap_par")
        .select("user_id", "event_type", "event_id", "gap_ms")
        .as[(Long, String, Long, Long)].collect().toSeq.sorted
      assert(got == expected,
        s"streamed ${got.length} gaps vs batch ${expected.length}")
      // the second batch added gaps that straddle the split — the
      // cross-batch statefulness this test exists to prove
      assert(got.length > afterEarly)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("patternMatchStream == batch evt_pattern_match, run straddling the batch split") {
    import graft.operators.EventOps
    // widen the corpus with a synthetic user whose run STRADDLES the
    // split cutoff — organic matches are sparse, so cross-batch state
    // recovery must be forced to be provable
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val synth = Seq(
      (999001L, t("2024-06-01 10:00:00"), 9990L, "view", 1.0),
      (999002L, t("2024-06-01 11:00:00"), 9990L, "click", 1.0),
      (999003L, t("2024-06-01 12:00:00"), 9990L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .unionByName(synth)
    val d = Files.createTempDirectory("cep_par").toFile.getAbsolutePath
    val widened = s"$d/widened"
    all.write.parquet(s"$widened/events.parquet")
    val expected = EventOps.patternMatch(spark, widened)
      .select("user_id", "id_0", "id_1", "id_2", "span_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(expected.nonEmpty)
    assert(expected.exists(_._1 == 9990L), "synthetic run not matched")

    // split between the synthetic click and purchase
    val src = s"$d/src"
    val cutoff = t("2024-06-01 11:30:00").getTime
    all.filter(unix_millis(col("ts")) < cutoff).write.mode("append").parquet(src)
    val q = StreamOps.patternMatchStream(
        spark.readStream.schema(all.schema).parquet(src).as[Ev])
      .writeStream.format("memory").queryName("cep_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterEarly = spark.table("cep_par").count()
      all.filter(unix_millis(col("ts")) >= cutoff).write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("cep_par")
        .select("user_id", "id_0", "id_1", "id_2", "span_ms")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected,
        s"streamed ${got.length} matches vs batch ${expected.length}")
      // the synthetic run completed in batch 2 from recovered state
      assert(got.length > afterEarly)
    } finally q.stop()
  }

  test("patternKleeneStream == batch evt_pattern_kleene, multi-click run straddling the batch split") {
    import graft.operators.EventOps
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val synth = Seq(
      // a 3-click run that must match with n_mid = 3
      (998001L, t("2024-06-02 10:00:00"), 9980L, "view", 1.0),
      (998002L, t("2024-06-02 10:10:00"), 9980L, "click", 1.0),
      (998003L, t("2024-06-02 10:20:00"), 9980L, "click", 1.0),
      (998004L, t("2024-06-02 10:30:00"), 9980L, "click", 1.0),
      (998005L, t("2024-06-02 10:40:00"), 9980L, "purchase", 1.0),
      // a run EXACTLY at the bound (KleeneMaxRun clicks) — must match
      // with n_mid = maxRun (the boundary the lead-width is sized for)
      (996001L, t("2024-06-02 10:00:00"), 9960L, "view", 1.0),
      (996002L, t("2024-06-02 10:01:00"), 9960L, "click", 1.0),
      (996003L, t("2024-06-02 10:02:00"), 9960L, "click", 1.0),
      (996004L, t("2024-06-02 10:03:00"), 9960L, "click", 1.0),
      (996005L, t("2024-06-02 10:04:00"), 9960L, "click", 1.0),
      (996006L, t("2024-06-02 10:05:00"), 9960L, "purchase", 1.0),
      // a run past the bound (KleeneMaxRun+1 clicks) — must NOT match
      (997001L, t("2024-06-02 10:00:00"), 9970L, "view", 1.0),
      (997002L, t("2024-06-02 10:10:00"), 9970L, "click", 1.0),
      (997003L, t("2024-06-02 10:11:00"), 9970L, "click", 1.0),
      (997004L, t("2024-06-02 10:12:00"), 9970L, "click", 1.0),
      (997005L, t("2024-06-02 10:13:00"), 9970L, "click", 1.0),
      (997006L, t("2024-06-02 10:14:00"), 9970L, "click", 1.0),
      (997007L, t("2024-06-02 10:15:00"), 9970L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .unionByName(synth)
    val d = Files.createTempDirectory("kleene_par").toFile.getAbsolutePath
    val widened = s"$d/widened"
    all.write.parquet(s"$widened/events.parquet")
    val expected = EventOps.patternKleene(spark, widened)
      .select("user_id", "id_0", "n_mid", "id_last", "span_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(expected.exists(e => e._1 == 9980L && e._3 == 3L),
      "synthetic 3-click run not matched")
    assert(expected.exists(e => e._1 == 9960L &&
        e._3 == EventOps.KleeneMaxRun.toLong),
      "at-bound run must match with n_mid = maxRun")
    assert(!expected.exists(_._1 == 9970L),
      "over-bound run must not match")

    // split INSIDE the click run (between clicks 2 and 3)
    val src = s"$d/src"
    val cutoff = t("2024-06-02 10:25:00").getTime
    all.filter(unix_millis(col("ts")) < cutoff).write.mode("append").parquet(src)
    val q = StreamOps.patternKleeneStream(
        spark.readStream.schema(all.schema).parquet(src).as[Ev])
      .writeStream.format("memory").queryName("kleene_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterEarly = spark.table("kleene_par").count()
      // ONE file, so the split arrives as one micro-batch: the stream
      // may list a multi-file append mid-commit and take the purchase
      // a batch before the third click (cross-batch arrival order the
      // operator does not restore)
      all.filter(unix_millis(col("ts")) >= cutoff).coalesce(1)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("kleene_par")
        .select("user_id", "id_0", "n_mid", "id_last", "span_ms")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected,
        s"streamed ${got.length} matches vs batch ${expected.length}")
      // the synthetic run completed in batch 2 from recovered state
      assert(got.length > afterEarly)
    } finally q.stop()
  }

  test("patternSpecStream == batch evt_pattern_spec, optional decision straddling the batch split") {
    import graft.operators.EventOps
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val synth = Seq(
      // optional TAKEN (view click purchase) — n_1 = 1, split lands
      // between the click and the purchase so the taken decision
      // replays from recovered state
      (995001L, t("2024-06-02 10:00:00"), 9950L, "view", 1.0),
      (995002L, t("2024-06-02 10:10:00"), 9950L, "click", 1.0),
      (995003L, t("2024-06-02 10:30:00"), 9950L, "purchase", 1.0),
      // optional SKIPPED (view purchase) — n_1 = 0, split between the
      // view and the purchase: absence of the click is decided by the
      // purchase ARRIVING (not by waiting), so the verdict must come
      // out of batch 2 identically
      (994001L, t("2024-06-02 10:00:00"), 9940L, "view", 1.0),
      (994002L, t("2024-06-02 10:30:00"), 9940L, "purchase", 1.0),
      // two clicks — the optional can consume only one, the second
      // click blocks the purchase step: must NOT match on either face
      (993001L, t("2024-06-02 10:00:00"), 9930L, "view", 1.0),
      (993002L, t("2024-06-02 10:10:00"), 9930L, "click", 1.0),
      (993003L, t("2024-06-02 10:20:00"), 9930L, "click", 1.0),
      (993004L, t("2024-06-02 10:30:00"), 9930L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .unionByName(synth)
    val d = Files.createTempDirectory("spec_par").toFile.getAbsolutePath
    val widened = s"$d/widened"
    all.write.parquet(s"$widened/events.parquet")
    val expected = EventOps.patternSpec(spark, widened)
      .select("user_id", "id_0", "n_1", "id_last", "span_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(expected.exists(e => e._1 == 9950L && e._3 == 1L),
      "taken-optional run not matched")
    assert(expected.exists(e => e._1 == 9940L && e._3 == 0L),
      "skipped-optional run not matched")
    assert(!expected.exists(_._1 == 9930L),
      "double-click run must not match")

    // split between 10:15 arrivals: user 9950's click sits in batch 1,
    // its purchase in batch 2; user 9940's purchase also lands in
    // batch 2 with the view in batch 1
    val src = s"$d/src"
    val cutoff = t("2024-06-02 10:15:00").getTime
    all.filter(unix_millis(col("ts")) < cutoff).write.mode("append").parquet(src)
    val q = StreamOps.patternSpecStream(
        spark.readStream.schema(all.schema).parquet(src).as[Ev])
      .writeStream.format("memory").queryName("spec_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterEarly = spark.table("spec_par").count()
      all.filter(unix_millis(col("ts")) >= cutoff).write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("spec_par")
        .select(col("user_id"), col("id_0"), col("counts")(0).as("n_1"),
          col("id_last"), col("span_ms"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected,
        s"streamed ${got.length} matches vs batch ${expected.length}")
      assert(got.length > afterEarly)
    } finally q.stop()
  }

  test("patternSpecStream with a Plus instance == patternKleeneStream == batch, same fixture and split") {
    import graft.operators.{EventOps, PatternQuant, PatternStep}
    // the generic face run at B29's spec must replay the dedicated
    // Kleene face bit-for-bit — same synthetic runs (at-bound and
    // over-bound), same mid-run batch split as the E45 parity test
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val synth = Seq(
      (992001L, t("2024-06-02 10:00:00"), 9920L, "view", 1.0),
      (992002L, t("2024-06-02 10:10:00"), 9920L, "click", 1.0),
      (992003L, t("2024-06-02 10:20:00"), 9920L, "click", 1.0),
      (992004L, t("2024-06-02 10:30:00"), 9920L, "purchase", 1.0),
      // over-bound run: KleeneMaxRun+1 clicks — must NOT match
      (991001L, t("2024-06-02 10:00:00"), 9910L, "view", 1.0),
      (991002L, t("2024-06-02 10:05:00"), 9910L, "click", 1.0),
      (991003L, t("2024-06-02 10:10:00"), 9910L, "click", 1.0),
      (991004L, t("2024-06-02 10:20:00"), 9910L, "click", 1.0),
      (991005L, t("2024-06-02 10:25:00"), 9910L, "click", 1.0),
      (991006L, t("2024-06-02 10:28:00"), 9910L, "click", 1.0),
      (991007L, t("2024-06-02 10:31:00"), 9910L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .unionByName(synth)
    val d = Files.createTempDirectory("specplus_par").toFile.getAbsolutePath
    val widened = s"$d/widened"
    all.write.parquet(s"$widened/events.parquet")
    val Seq(a, b, c) = EventOps.PatternSeq
    val plusSpec = Seq(PatternStep(a, PatternQuant.One),
      PatternStep(b, PatternQuant.Plus(EventOps.KleeneMaxRun)),
      PatternStep(c, PatternQuant.One))
    val expected = EventOps.patternSpec(spark, widened, plusSpec)
      .select("user_id", "id_0", "n_1", "id_last", "span_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(expected.exists(e => e._1 == 9920L && e._3 == 2L))
    assert(!expected.exists(_._1 == 9910L), "over-bound run must not match")
    val src = s"$d/src"
    val cutoff = t("2024-06-02 10:15:00").getTime
    all.filter(unix_millis(col("ts")) < cutoff).write.mode("append").parquet(src)
    val q = StreamOps.patternSpecStream(
        spark.readStream.schema(all.schema).parquet(src).as[Ev], plusSpec)
      .writeStream.format("memory").queryName("specplus_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      all.filter(unix_millis(col("ts")) >= cutoff).write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("specplus_par")
        .select(col("user_id"), col("id_0"), col("counts")(0).as("n_1"),
          col("id_last"), col("span_ms"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected,
        s"generic Plus face ${got.length} vs batch ${expected.length}")
      // and the dedicated E45 face agrees row-for-row on the same data
      val d2 = s"$d/src2"
      all.write.parquet(d2)
      val q2 = StreamOps.patternKleeneStream(
          spark.readStream.schema(all.schema).parquet(d2).as[Ev])
        .writeStream.format("memory").queryName("specplus_kleene")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        val kle = spark.table("specplus_kleene")
          .select("user_id", "id_0", "n_mid", "id_last", "span_ms")
          .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
        assert(kle == got, "generic face diverges from the E45 Kleene face")
      } finally q2.stop()
    } finally q.stop()
  }

  test("imageDedupStream: pairs == plain-Scala bands+hamming vs the standing split") {
    import graft.multimodal.MultimodalOps
    def hash(id: Long): Long = MultimodalOps.dHash56(
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MultimodalOps.synthPng(id))))
    def bands(h: Long): Set[(Int, Long)] =
      (0 until 4).map(b => b -> ((h >> (14 * b)) & 16383L)).toSet
    val ids = Tables.documents(spark, Sf).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 3 == 0).sorted
    val standing = ids.filter(_ % 10 != 7).map(i => i -> hash(i))
    val incomingIds = ids.filter(_ % 10 == 7)
    val expected = (for {
      a <- incomingIds; ha = hash(a)
      (b, hb) <- standing
      if bands(ha).intersect(bands(hb)).nonEmpty
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 6
    } yield (a, b, d.toLong)).toSet
    assert(expected.nonEmpty, "fixture yields no cross-split image pairs")

    val d = Files.createTempDirectory("imgdedup_par").toFile.getAbsolutePath
    // poison pill: a payload whose PNG header a reader RECOGNIZES but
    // whose truncated body throws inside the decoder — must drop out,
    // not kill the query (the dHashBytes NonFatal contract)
    val corrupt = MultimodalOps.synthPng(incomingIds.head).take(40)
    (incomingIds.map(i => (i, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        MultimodalOps.synthPng(i))) :+
      ((999999L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), corrupt)))
      .toSeq.toDF("doc_id", "ts", "bytes")
      .write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    val q = StreamOps.imageDedupStreamFor(spark, Sf,
        spark.readStream.schema(schema).parquet(d), watermark = "1 hour")
      .writeStream.format("memory").queryName("imgdedup_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("imgdedup_par")
        .select("a_id", "b_id", "hamming").as[(Long, Long, Long)]
        .collect().toSet
      assert(got == expected, s"streamed ${got.size} vs expected ${expected.size}")
    } finally q.stop()
  }

  test("lmTierStream == batch scores + frozen standing cutoffs") {
    import graft.operators.TextOps
    // batch composition of published faces: D38 scores joined to the
    // standing cutoffs with the shared tier expression
    val expected = TextOps.lmScore(spark, Sf)
      .join(Tables.documents(spark, Sf).select("doc_id", "lang"), "doc_id")
      .join(TextOps.lmStandingCuts(spark, Sf), "lang")
      .withColumn("tier", TextOps.tierCol(col("bits_per_trans"),
        col("c_head"), col("c_mid")))
      .select("doc_id", "lang", "n_trans", "bits_per_trans", "tier")
      .collect().map(_.toString).toSeq.sorted
    val d = Files.createTempDirectory("tier_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.lmTierStream(spark, Sf,
        spark.readStream.schema(incoming.schema).parquet(d))
      .writeStream.format("memory").queryName("tier_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tier_par")
        .select("doc_id", "lang", "n_trans", "bits_per_trans", "tier")
        .collect().map(_.toString).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("gopherRulesStream == batch doc_gopher_rules on the real corpus") {
    val expected = operators.TextOps.gopherRules(spark, Sf).collect()
      .map(_.toString).toSeq.sorted
    val d = Files.createTempDirectory("goph_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .select("doc_id", "text", "n_chars")
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.gopherRulesStream(
        spark.readStream.schema(incoming.schema).parquet(d))
      .writeStream.format("memory").queryName("goph_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("goph_par").collect().map(_.toString).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
    } finally q.stop()
  }

  test("cardinalityStream sketch == batch sketch per closed day (exact merge)") {
    val expected = Tables.events(spark, Sf)
      .groupBy(date_trunc("day", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), 0.02).as("n_users"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val d = Files.createTempDirectory("card_par").toFile.getAbsolutePath
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    all.write.mode("overwrite").parquet(d)
    val q = StreamOps.cardinalityStream(
        spark.readStream.schema(all.schema).parquet(d))
      .writeStream.format("memory").queryName("card_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("card_par").filter(col("bucket") < "2029-01-01")
        .as[(java.sql.Timestamp, String, Long, Long)].collect()
        .map(r => (r._1.getTime, r._2, r._3, r._4)).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("funnelStream == batch evt_funnel (first ordered view→click→purchase) on real events") {
    def key(u: Long, v: java.sql.Timestamp, c: java.sql.Timestamp,
        p: java.sql.Timestamp, d: Long) =
      (u, v.getTime, Option(c).map(_.getTime), Option(p).map(_.getTime), d)
    val expected = operators.EventOps.funnel(spark, Sf)
      .filter(col("user_id") <= 3).collect()
      .map(r => key(r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4))).toSeq.sorted
    val d = Files.createTempDirectory("fun_par").toFile.getAbsolutePath
    evs.write.mode("overwrite").parquet(d)
    val q = StreamOps.funnelStream(
        spark.readStream.schema(evs.schema).parquet(d).as[Ev],
        ttlMs = 90L * 24 * 3600 * 1000, watermark = "0 seconds")
      .writeStream.format("memory").queryName("fun_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("fun_par").collect()
        .map(r => key(r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getTimestamp(3), r.getLong(4))).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
      // this fixture's users all complete depth 3 (exercising the
      // immediate-emission path); the TTL-flush path for partial
      // funnels is pinned with exact expectations in StreamTtlSpec and
      // the checkpoint-restart spec
      assert(expected.forall(_._5 == 3L),
        s"fixture changed: depths ${expected.map(_._5).distinct} — " +
          "revisit which emission paths this parity test covers")
    } finally q.stop()
  }

  test("resampleStream == batch evt_resample_ffill grid on real events") {
    def key(u: Long, t: java.sql.Timestamp, id: Any, v: Any) =
      (u, t.getTime, Option(id).map(_.toString), Option(v).map(_.toString))
    val expected = operators.EventOps.resampleFfill(spark, Sf)
      .filter(col("user_id") <= 3).collect()
      .map(r => key(r.getLong(0), r.getTimestamp(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq.sorted
    val d = Files.createTempDirectory("rsmp_par").toFile.getAbsolutePath
    evs.write.mode("overwrite").parquet(d)
    val q = StreamOps.resampleStream(
        spark.readStream.schema(evs.schema).parquet(d).as[Ev],
        ttlMs = 90L * 24 * 3600 * 1000, watermark = "0 seconds")
      .writeStream.format("memory").queryName("rsmp_par")
      .outputMode("append").start()
    try {
      // flush with DISTINCT sentinel users: resample grids every event
      // regardless of type, so reusing users 0–3 would extend their
      // grids to the sentinel instant
      q.processAllAvailable()
      (0L to 3L).map(u => (999990L + u,
          java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 9990L + u, "x", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("rsmp_par").filter(col("user_id") <= 3).collect()
        .map(r => key(r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
      // the fixture exercises the leading-null fill (grid points before
      // the first event of an hour-anchored grid)
      assert(expected.exists(_._3.isEmpty) == got.exists(_._3.isEmpty))
    } finally q.stop()
  }

  test("heavyHittersStream (MG state) == batch exact counts per closed day when capacity covers keys") {
    val expected = Tables.events(spark, Sf)
      .groupBy(date_trunc("day", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSeq.sorted
    val d = Files.createTempDirectory("hh_par").toFile.getAbsolutePath
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    all.write.mode("overwrite").parquet(d)
    val q = StreamOps.heavyHittersStream(
        spark.readStream.schema(all.schema).parquet(d))
      .writeStream.format("memory").queryName("hh_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("hh_par").filter(col("bucket") < "2029-01-01")
        .select("bucket", "event_type", "est_cnt")
        .as[(java.sql.Timestamp, String, Long)].collect()
        .map(r => (r._1.getTime, r._2, r._3)).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
      // ranks within each closed window are 1..n by (cnt desc, key asc)
      val ranks = spark.table("hh_par").filter(col("bucket") < "2029-01-01")
        .select("bucket", "rnk").as[(java.sql.Timestamp, Long)].collect()
        .groupBy(_._1).values
      ranks.foreach(rs =>
        assert(rs.map(_._2).sorted.toSeq == (1L to rs.length.toLong)))
    } finally q.stop()
  }

  test("trendingStream == batch trending per closed hour on real events") {
    val expected = operators.EventOps.trending(spark, Sf)
      .filter(col("bucket") < "2029-01-01").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val d = Files.createTempDirectory("trend_par").toFile.getAbsolutePath
    val all = Tables.events(spark, Sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    all.write.mode("overwrite").parquet(d)
    val q = StreamOps.trendingStream(
        spark.readStream.schema(all.schema).parquet(d))
      .writeStream.format("memory").queryName("trend_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("trend_par").filter(col("bucket") < "2029-01-01")
        .as[(java.sql.Timestamp, String, Long, Long)].collect()
        .map(r => (r._1.getTime, r._2, r._3, r._4)).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("ingestGateStream ledger == union of the batch gate verdicts") {
    val evalSet = operators.CurationOps.demoEvalSet(spark)
    val exactExp = operators.CurationOps.dedupIncremental(spark, Sf).collect()
      .filter(_.getAs[Boolean]("is_exact_dup"))
      .map(r => (r.getLong(0), "exact_dup"))
    val nearExp = operators.CurationOps.dedupIncrementalLsh(spark, Sf)
      .select("a_id").distinct().collect().map(r => (r.getLong(0), "near_dup"))
    val contExp = operators.CurationOps.decontaminate(spark, Sf, evalSet, minHits = 1)
      .filter(col("doc_id") % 10 === 7)
      .select("doc_id").distinct().collect()
      .map(r => (r.getLong(0), "contaminated"))
    val expected = (exactExp ++ nearExp ++ contExp).toSet
    val d = Files.createTempDirectory("gate_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("lang"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.ingestGateStream(spark, Sf,
        spark.readStream.schema(incoming.schema).parquet(d), evalSet,
        minHits = 1, watermark = "1 hour")
      .writeStream.format("memory").queryName("gate_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gate_par")
        .select("doc_id", "reason").as[(Long, String)].collect().toSet
      assert(got == expected,
        s"ledger ${got.size} rows vs batch ${expected.size}")
      assert(expected.nonEmpty, "gate fixture produced no verdicts at all")
    } finally q.stop()
  }

  test("annSearchStream == batch ivfPqSearch per micro-batch of query vectors") {
    // serving parity: the same query vectors through the stream must
    // produce exactly the batch API's rows, regardless of micro-batch
    // boundaries (two batches here)
    val qIds = Seq(0L, 100L, 250L)
    val qVecs = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").isin(qIds: _*))
      .select("vec_id", "embedding")
    val expected = operators.AnnOps.ivfPqSearch(spark, Sf, qVecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sorted
    val d = Files.createTempDirectory("ann_par").toFile.getAbsolutePath
    qVecs.filter(col("vec_id") < 200).write.mode("overwrite").parquet(d)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Long)]
    val q = StreamOps.annSearchStream(spark, Sf,
      spark.readStream.schema(qVecs.schema).parquet(d),
      (res, _) => got.synchronized {
        got ++= res.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      })
    try {
      q.processAllAvailable()
      qVecs.filter(col("vec_id") >= 200).write.mode("append").parquet(d)
      q.processAllAvailable()
      assert(got.toSeq.sorted == expected,
        s"stream ${got.length} rows vs batch ${expected.length}")
    } finally q.stop()
  }

  test("debounceStream == batch debounce (30m gap) on real events") {
    val expected = operators.EventOps.debounce(spark, Sf)
      .filter(col("user_id") <= 3)
      .select("user_id", "event_id", "burst_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val d = Files.createTempDirectory("deb_par").toFile.getAbsolutePath
    evs.write.mode("overwrite").parquet(d)
    val q = StreamOps.debounceStream(
        spark.readStream.schema(evs.schema).parquet(d).as[Ev],
        gapMs = 30 * 60 * 1000, watermark = "0 seconds")
      .writeStream.format("memory").queryName("deb_par").outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("deb_par").filter(col("event_id") < 999000)
        .select("user_id", "event_id", "burst_size").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
    } finally q.stop()
  }

  test("lmScoreStream == batch doc_lm_score bit-for-bit (incl. double division)") {
    val expected = operators.TextOps.lmScore(spark, Sf)
      .select("doc_id", "n_trans", "xent_q10", "bits_per_trans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val d = Files.createTempDirectory("lm_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.lmScoreStream(spark,
        operators.TextOps.lmUnigramFrame(spark, Sf),
        operators.TextOps.lmBigramFrame(spark, Sf),
        spark.readStream.schema(incoming.schema).parquet(d))
      .writeStream.format("memory").queryName("lm_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lm_par")
        .select("doc_id", "n_trans", "xent_q10", "bits_per_trans")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("importanceScoreStream == batch doc_importance_weights bit-for-bit") {
    val expected = operators.DsirOps.importanceWeights(spark, Sf)
      .select("doc_id", "n_feats", "logw_q10", "logw_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val d = Files.createTempDirectory("dsir_par").toFile.getAbsolutePath
    val incoming = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).as("ts"))
    incoming.write.mode("overwrite").parquet(d)
    val q = StreamOps.importanceScoreStream(spark,
        operators.DsirOps.targetCounts(spark, Sf),
        operators.DsirOps.rawCounts(spark, Sf),
        spark.readStream.schema(incoming.schema).parquet(d))
      .writeStream.format("memory").queryName("dsir_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dsir_par")
        .select("doc_id", "n_feats", "logw_q10", "logw_bits")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("dailyAnomalyStream == batch evt_daily_anomaly on closed history") {
    val expected = operators.EventOps.dailyAnomaly(spark, Sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq.sorted
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cut = all.agg(percentile_approx(col("ts"), lit(0.5), lit(100)))
      .collect()(0).getTimestamp(0)
    val d = Files.createTempDirectory("anom_par").toFile.getAbsolutePath
    all.filter(col("ts") <= cut).write.mode("overwrite").parquet(d)
    val q = StreamOps.dailyAnomalyStream(
        spark.readStream.schema(all.schema).parquet(d).as[Ev])
      .writeStream.format("memory").queryName("anom_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      all.filter(col("ts") > cut).write.mode("append").parquet(d)
      q.processAllAvailable()
      flush(d) // far-future rows close every real day for every type
      q.processAllAvailable()
      val got = spark.table("anom_par")
        .filter(col("event_type") =!= "x")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("transitionsStream pairs == batch evt_transitions counts") {
    val expected = operators.EventOps.transitions(spark, Sf)
      .select("prev_type", "next_type", "n").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cut = all.agg(percentile_approx(col("ts"), lit(0.5), lit(100)))
      .collect()(0).getTimestamp(0)
    val d = Files.createTempDirectory("trans_par").toFile.getAbsolutePath
    all.filter(col("ts") <= cut).write.mode("overwrite").parquet(d)
    val q = StreamOps.transitionsStream(
        spark.readStream.schema(all.schema).parquet(d).as[Ev])
      .writeStream.format("memory").queryName("trans_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // chains crossing the split boundary must continue from state
      all.filter(col("ts") > cut).write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("trans_par")
        .groupBy("prev_type", "next_type").count().collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(got == expected, s"streamed ${got.size} vs batch ${expected.size}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("ewmaStream == batch evt_ewma BIT-exactly across a time split") {
    val expected = operators.EventOps.ewmaSmooth(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cut = all.agg(percentile_approx(col("ts"), lit(0.5), lit(100)))
      .collect()(0).getTimestamp(0)
    val d = Files.createTempDirectory("ewma_par").toFile.getAbsolutePath
    all.filter(col("ts") <= cut).write.mode("overwrite").parquet(d)
    val q = StreamOps.ewmaStream(
        spark.readStream.schema(all.schema).parquet(d).as[Ev])
      .writeStream.format("memory").queryName("ewma_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // recurrences straddling the split must continue from state
      all.filter(col("ts") > cut).write.mode("append").parquet(d)
      q.processAllAvailable()
      // latest emission per key = highest n_events (monotone per key)
      val got = spark.table("ewma_par").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(got == expected, s"streamed ${got.size} vs batch ${expected.size}")
      // the split genuinely exercised cross-batch state: some key must
      // have emitted twice
      assert(spark.table("ewma_par").count() > expected.size)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("transitionsStream: a null-typed event replaces the chain head") {
    // timeline A, null, B split so the null-typed event ENDS batch 1:
    // batch semantics emit (A, null) and drop B's pair (its lag
    // predecessor is null) — state must carry the null replacement
    val d = Files.createTempDirectory("trans_null").toFile.getAbsolutePath
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq((1L, ts(0), 5L, "A", 1.0), (2L, ts(1), 5L, null, 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    val q = StreamOps.transitionsStream(
        spark.readStream.schema(schema).parquet(d).as[Ev])
      .writeStream.format("memory").queryName("trans_null")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Seq((3L, ts(2), 5L, "B", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("trans_null")
        .select("prev_type", "next_type").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSeq.sorted
      assert(got == Seq(("A", None)), s"got $got")
    } finally q.stop()
  }

  test("qualityGatesStream == windowed batch gates per closed day") {
    val docs = Tables.documents(spark, Sf)
      .withColumn("ts", expr(
        "timestamp '2024-01-01 06:00:00' + make_interval(0,0,0,CAST(doc_id % 5 AS INT),0,0,0)"))
    val expected = operators.ProfileOps.qualityGatesWindowed(docs).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(2),
        r.getDouble(3), r.getBoolean(5))).toSeq.sorted
    val d = Files.createTempDirectory("qg_par").toFile.getAbsolutePath
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(d)
    val q = operators.ProfileOps.qualityGatesStream(
        spark.readStream.schema(docs.schema).parquet(d))
      .writeStream.format("memory").queryName("qg_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(d)
      q.processAllAvailable()
      // watermark flush: a far-future doc closes the 5 real windows
      docs.limit(1).withColumn("ts",
          lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
        .write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("qg_par")
        .filter(col("w_start") < "2029-01-01")
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(2),
          r.getDouble(3), r.getBoolean(5))).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("native session_window streaming == batch evt_sessionize_native") {
    val expected = operators.EventOps.sessionizeNative(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3),
        math.rint(r.getDouble(4) * 100) / 100)).toSeq.sorted
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val d = Files.createTempDirectory("sessnat_par").toFile.getAbsolutePath
    all.write.mode("overwrite").parquet(d)
    val q = spark.readStream.schema(all.schema).parquet(d)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours"))
      // the SAME shared aggregates as the batch operator — the point
      // of E32 is that the expression is literally identical
      .agg(graft.functions.Exact.lcount.as("n_events"),
        graft.functions.Exact.dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("w_start"),
        col("session_window.end").as("w_end"), col("n_events"),
        col("total_value"))
      .writeStream.format("memory").queryName("sessnat_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable(); flush(d); q.processAllAvailable()
      val got = spark.table("sessnat_par")
        .filter(col("w_start") < "2029-01-01").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3),
          math.rint(r.getDouble(4) * 100) / 100)).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("attributionOuterStream == batch outer report incl. proven-absent nulls") {
    val expected = operators.EventOps.attributionOuter(spark, Sf)
      .select("purchase_id", "click_id", "attributed").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2))).toSeq.sorted
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cDir = Files.createTempDirectory("attro_c").toFile.getAbsolutePath
    val pDir = Files.createTempDirectory("attro_p").toFile.getAbsolutePath
    all.filter(col("event_type") === "click")
      .write.mode("overwrite").parquet(cDir)
    all.filter(col("event_type") === "purchase")
      .write.mode("overwrite").parquet(pDir)
    val q = StreamOps.attributionOuterStream(
        spark.readStream.schema(all.schema).parquet(cDir),
        spark.readStream.schema(all.schema).parquet(pDir))
      .writeStream.format("memory").queryName("attro_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // far-future rows on BOTH sides push the watermark past every
      // real purchase's band: the unattributed nulls may now emit
      flush(cDir); flush(pDir)
      q.processAllAvailable()
      val got = spark.table("attro_par")
        .filter(col("purchase_ts") < "2029-01-01").collect()
        .map(r => (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getBoolean(5))).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.exists(!_._3), "fixture has no unattributed purchases")
    } finally q.stop()
  }

  test("attributionStream == batch evt_attribution across micro-batch splits") {
    val expected = operators.EventOps.attribution(spark, Sf)
      .select("purchase_id", "click_id", "mins_before").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // time-split the feed so pairs STRADDLE the micro-batch boundary:
    // clicks buffered in join state from batch 1 must still match
    // purchases arriving in batch 2
    val cut = all.agg(percentile_approx(col("ts"), lit(0.5), lit(100)))
      .collect()(0).getTimestamp(0)
    val cDir = Files.createTempDirectory("attr_c").toFile.getAbsolutePath
    val pDir = Files.createTempDirectory("attr_p").toFile.getAbsolutePath
    val clicks = all.filter(col("event_type") === "click")
    val buys = all.filter(col("event_type") === "purchase")
    clicks.filter(col("ts") <= cut).write.mode("overwrite").parquet(cDir)
    buys.filter(col("ts") <= cut).write.mode("overwrite").parquet(pDir)
    val q = StreamOps.attributionStream(
        spark.readStream.schema(all.schema).parquet(cDir),
        spark.readStream.schema(all.schema).parquet(pDir))
      .writeStream.format("memory").queryName("attr_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      clicks.filter(col("ts") > cut).write.mode("append").parquet(cDir)
      buys.filter(col("ts") > cut).write.mode("append").parquet(pDir)
      q.processAllAvailable()
      val got = spark.table("attr_par")
        .select("purchase_id", "click_id", "mins_before")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("classifyStream == batch doc_classify_lang exactly, from memo frames AND persisted tables") {
    import operators.{TextOps, LayoutOps}
    val expected = TextOps.classifyLang(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getBoolean(4))).toSeq.sorted
    assert(expected.nonEmpty)
    // arrivals carry the TEXT-DERIVED weak label as their true label
    // (the r11 D59 contract) — the same frame the batch evaluator uses
    val crawl = TextOps.weakLabeled(spark, Sf)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("wl").as("lang"), col("text"))
    val cut = crawl.agg(percentile_approx(col("doc_id"), lit(0.5), lit(100)))
      .collect()(0).getLong(0)
    val d = Files.createTempDirectory("nb_par").toFile.getAbsolutePath
    crawl.filter(col("doc_id") <= cut).write.mode("overwrite").parquet(d)
    val q = StreamOps.classifyStream(spark,
        TextOps.nbCountsFrame(spark, Sf), TextOps.nbClassDocsFrame(spark, Sf),
        spark.readStream.schema(crawl.schema).parquet(d))
      .writeStream.format("memory").queryName("nb_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      crawl.filter(col("doc_id") > cut).write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("nb_par").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getBoolean(4))).toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
    } finally q.stop()
    // the layout-served stream: same verdicts from the persisted model
    Seq("nb_counts", "nb_classes").foreach(f => LayoutOps.ensure(spark, Sf, f))
    val q2 = StreamOps.classifyStream(spark,
        LayoutOps.table(spark, Sf, "nb_counts"),
        LayoutOps.table(spark, Sf, "nb_classes"),
        spark.readStream.schema(crawl.schema).parquet(d))
      .writeStream.format("memory").queryName("nb_par2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val got2 = spark.table("nb_par2").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getBoolean(4))).toSeq.sorted
      assert(got2 == expected)
    } finally q2.stop()
  }

  test("incidentJoinStream == batch B26 pairs with a window straddling the micro-batch split") {
    import operators.EventOps
    val all = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val incidents = all
      .filter(col("event_type") === "error" &&
        col("value") > EventOps.IncidentValueMin)
      .select(col("event_id").as("incident_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + EventOps.IncidentWindowMicros).as("e_us"))
    val pairRows = EventOps.binnedIntervalJoin(
        all.select("event_id", "ts"), incidents,
        EventOps.IncidentWindowMicros)
      .select(col("incident_id"), col("event_id"), col("s_us"),
        unix_micros(col("ts")).as("ev_us"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    val expected = pairRows.map(p => (p._1, p._2)).sorted
    assert(expected.nonEmpty, "no incidents at sf0.001")
    // cut INSIDE the widest pair's window: that incident arrives in
    // batch 1, its matching event in batch 2 — the pairing can only
    // come from buffered join state surviving the micro-batch split
    val widest = pairRows.maxBy(p => p._4 - p._3)
    assert(widest._4 - widest._3 > 2000L, "no pair wide enough to cut")
    val cutUs = (widest._3 + widest._4) / 2
    val cut = new java.sql.Timestamp(cutUs / 1000L)
    val straddlePair = (widest._1, widest._2)
    val d = Files.createTempDirectory("inc_par").toFile.getAbsolutePath
    all.filter(col("ts") <= cut).write.mode("overwrite").parquet(d)
    val q = StreamOps.incidentJoinStream(
        spark.readStream.schema(all.schema).parquet(d),
        spark.readStream.schema(all.schema).parquet(d))
      .writeStream.format("memory").queryName("inc_par")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("inc_par")
        .select("incident_id", "event_id")
        .as[(Long, Long)].collect().toSet
      all.filter(col("ts") > cut).write.mode("append").parquet(d)
      q.processAllAvailable()
      val got = spark.table("inc_par")
        .select("incident_id", "event_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == expected, s"streamed ${got.length} vs batch ${expected.length}")
      // the straddle genuinely happened: the widest pair was emitted
      // only AFTER its event arrived in batch 2
      assert(!batch1.contains(straddlePair),
        "cut failed to split the straddle pair across batches")
      assert(got.contains(straddlePair))
    } finally q.stop()
  }
}
