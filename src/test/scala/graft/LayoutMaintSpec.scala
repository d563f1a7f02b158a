package graft

import graft.operators.{AnnOps, LayoutOps}
import graft.sources.LayoutStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** D36h/D36i: the persisted index as a MAINTAINED artifact — delta
  * append into the bucketed coded-lists table (encoded in-row against
  * the persisted models, exactly-once, restart-safe) and compaction
  * (appended files folded back to one per bucket with nothing else
  * changing).
  */
class LayoutMaintSpec extends GraftSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private def withCleanLayouts[T](body: => T): T =
    try { LayoutOps.purgeAll(spark, Sf); body }
    finally LayoutOps.purgeAll(spark, Sf)

  private def growTable: String =
    LayoutOps.tableName(
      LayoutOps.families.find(_.name == LayoutOps.GrowFamily).get, Sf)

  private def dataFiles: Seq[java.io.File] = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")
    new java.io.File(s"$warehouse/graft_layouts/$growTable")
      .listFiles().toSeq
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  test("delta append: base table misses the delta, the grown table serves the full index bit-for-bit, append is exactly-once") {
    withCleanLayouts {
      // the parity target BEFORE any layout exists: the session index
      val expected = rows(AnnOps.annIvfPq(spark, Sf))

      assert(LayoutOps.ensure(spark, Sf, LayoutOps.GrowFamily) == "written")
      val base = LayoutStore.read(spark, growTable)
      assert(base.filter(col("c_id") % 10 === 7).count() == 0,
        "base table must hold only the standing-corpus split")
      val baseCount = base.count()

      assert(LayoutOps.appendDelta(spark, Sf), "first append must run")
      val grown = LayoutStore.read(spark, growTable)
      val deltaCount = grown.filter(col("c_id") % 10 === 7).count()
      assert(deltaCount > 0, "delta rows must be present after append")

      // the appended rows carry the SAME codes the session index built
      // for those ids (frozen models ⇒ identical encoding), so search
      // over the grown table equals the session search bit-for-bit
      assert(rows(LayoutOps.annIvfPqAppendedServed(spark, Sf)) == expected)

      // exactly-once: a second call must not double-append
      assert(!LayoutOps.appendDelta(spark, Sf), "second append must skip")
      assert(LayoutStore.read(spark, growTable).count() ==
        baseCount + deltaCount)
    }
  }

  test("residual delta append: grown residual table serves the full residual index bit-for-bit, exactly-once") {
    withCleanLayouts {
      val expected = rows(AnnOps.annIvfPqRes(spark, Sf))
      assert(LayoutOps.ensure(spark, Sf, LayoutOps.GrowResFamily)
        == "written")
      assert(LayoutOps.appendDeltaRes(spark, Sf), "first append must run")
      assert(rows(LayoutOps.annIvfPqResAppendedServed(spark, Sf))
        == expected)
      assert(!LayoutOps.appendDeltaRes(spark, Sf), "second append must skip")
    }
  }

  test("restart after append: catalog death + memo wipe, the re-registered grown table still serves the full index") {
    withCleanLayouts {
      val expected = rows(AnnOps.annIvfPq(spark, Sf))
      LayoutOps.annIvfPqAppendedServed(spark, Sf).collect()

      LayoutOps.dropCatalogEntries(spark, Sf)
      Memo.clear(spark)
      assert(LayoutOps.ensure(spark, Sf, LayoutOps.GrowFamily)
        == "reregistered")
      // the marker survives with the files: no re-append happens, and
      // serving reads the grown table as-is
      assert(!LayoutOps.appendDelta(spark, Sf))
      assert(rows(LayoutOps.annIvfPqAppendedServed(spark, Sf)) == expected)
    }
  }

  test("compaction: appended files fold to one per non-empty bucket; rows, search results and bucket pruning unchanged") {
    withCleanLayouts {
      LayoutOps.annIvfPqAppendedServed(spark, Sf).collect()
      val before = rows(LayoutStore.read(spark, growTable).orderBy("c_id"))
      val searchBefore = rows(LayoutOps.annIvfPqAppendedServed(spark, Sf))
      val filesBefore = dataFiles.size
      val buckets =
        LayoutOps.families.find(_.name == LayoutOps.GrowFamily).get.buckets
      // base write (one file per task per bucket) + append batch:
      // strictly more files than buckets proves compaction has work
      assert(filesBefore > buckets,
        s"expected > $buckets files before compaction, got $filesBefore")

      // the scheduler-facing policy: triggers above the threshold...
      assert(LayoutOps.compactIfNeeded(spark, Sf, LayoutOps.GrowFamily,
        maxFiles = buckets), "policy must compact above the threshold")

      val filesAfter = dataFiles.size
      assert(filesAfter <= buckets,
        s"expected ≤ $buckets files after compaction, got $filesAfter")
      assert(rows(LayoutStore.read(spark, growTable).orderBy("c_id"))
        == before, "compaction must not change table content")
      assert(rows(LayoutOps.annIvfPqAppendedServed(spark, Sf))
        == searchBefore, "compaction must not change search results")
      // ...and no-ops below it (the compacted table is within bounds)
      assert(!LayoutOps.compactIfNeeded(spark, Sf, LayoutOps.GrowFamily,
        maxFiles = buckets), "policy must no-op below the threshold")

      // the marker carried over: append stays exactly-once
      assert(!LayoutOps.appendDelta(spark, Sf))

      // bucket pruning still fires on the compacted table (the probe
      // path filters on literal c_cid values)
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val probe = LayoutStore.read(spark, growTable)
          .filter(col("c_cid").isin(0L, 1L))
        val plan = probe.queryExecution.executedPlan.toString
        val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        val m = sel.findFirstMatchIn(plan).getOrElse(
          fail(s"no bucket pruning on compacted table:\n$plan"))
        assert(m.group(1).toInt <= 2 && m.group(2).toInt == buckets,
          s"expected ≤2 of $buckets buckets, got ${m.matched}")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("compaction crash recovery: a completeness-marked replacement left by a mid-swap death is finished by ensure") {
    withCleanLayouts {
      import java.nio.file.{Files, Paths}
      val fam = LayoutOps.families.find(_.name == "corpus_ck").get
      val t = LayoutOps.tableName(fam, Sf)
      assert(LayoutOps.ensure(spark, Sf, "corpus_ck") == "written")
      val expected = rows(LayoutStore.read(spark, t).orderBy("ck"))

      // simulate a compaction that died between its two renames: the
      // original location is gone, the full replacement sits in the
      // swap's stage directory, sealed by its completeness marker
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .replaceFirst("^file:", "")
      val loc = Paths.get(s"$warehouse/graft_layouts/$t")
      val stage = Paths.get(s"$warehouse/graft_layouts/.$t.stage-crashed")
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Files.createDirectories(stage)
      Files.move(loc, stage.resolve(t))
      Files.createFile(stage.resolve("_SUCCESS"))

      assert(LayoutOps.ensure(spark, Sf, "corpus_ck") == "swap_recovered")
      assert(rows(LayoutStore.read(spark, t).orderBy("ck")) == expected,
        "recovered table must serve the full replacement")
    }
  }

  test("graph delta compaction: stream-grown delta files fold to one per non-empty bucket, the merged serve is bit-identical") {
    withCleanLayouts {
      import org.apache.spark.sql.functions.pmod
      val expected = rows(AnnOps.annGraphAppended(spark, Sf))
      Seq("graph_adj", "graph_down", "graph_anchors", "graph_delta")
        .foreach(f => LayoutOps.ensure(spark, Sf, f))
      val fam = LayoutOps.families.find(_.name == "graph_delta").get
      val t = LayoutOps.tableName(fam, Sf)
      // grow the delta the way E48 does, but in 4 separate appends so
      // files accumulate per bucket (the between-compactions steady
      // state of a streamed graph)
      val edges = AnnOps.graphUpkeepEdges(spark, Sf,
        LayoutOps.table(spark, Sf, "graph_adj"),
        LayoutOps.table(spark, Sf, "graph_down"),
        LayoutOps.table(spark, Sf, "graph_anchors"),
        AnnOps.graphDelta(spark, Sf)
          .select(col("vec_id"), col("v").as("embedding"))).persist()
      (0 until 4).foreach { s =>
        LayoutStore.append(spark, t,
          edges.filter(pmod(col("dst"), org.apache.spark.sql.functions
            .lit(4)) === s),
          Seq(fam.bucketKey), fam.buckets)
      }
      assert(rows(LayoutOps.annGraphUpkeptServed(spark, Sf)) == expected,
        "grown-delta serve != batch append")
      val before = LayoutStore.dataFileCount(spark, t)
      LayoutStore.compact(spark, t, Seq(fam.bucketKey), fam.buckets)
      val after = LayoutStore.dataFileCount(spark, t)
      assert(after < before, s"compaction did not shrink files " +
        s"($before -> $after)")
      // post-compact serve bit-identical (the D36l discipline carried
      // to the graph family)
      assert(rows(LayoutOps.annGraphUpkeptServed(spark, Sf)) == expected,
        "post-compact serve drifted")
      edges.unpersist()
      ()
    }
  }

  test("E21 streaming manifest upkeep: new checksums append exactly-once, replay adds nothing, restart serves from files") {
    withCleanLayouts {
      import org.apache.spark.sql.functions.{col, count, md5}
      val fam = LayoutOps.families.find(_.name == "upkeep_ck").get
      val ckTable = LayoutOps.tableName(fam, Sf)
      assert(LayoutOps.ensure(spark, Sf, "upkeep_ck") == "written")
      val baseCount = LayoutStore.read(spark, ckTable).count()

      val delta = Tables.documents(spark, Sf)
        .filter(col("doc_id") % 10 === 7)
        .select("doc_id", "text")
      val chunk1 = delta.filter(col("doc_id") % 20 === 7)
      val chunk2 = delta.filter(col("doc_id") % 20 =!= 7)

      val d = java.nio.file.Files.createTempDirectory("manifest_upkeep")
        .toFile.getAbsolutePath
      chunk1.write.mode("overwrite").parquet(d)
      val q = graft.streaming.StreamOps.manifestUpkeepStream(spark, Sf,
        spark.readStream.schema(delta.schema).parquet(d))
      try {
        q.processAllAvailable()
        val afterC1 = LayoutStore.read(spark, ckTable).count()
        assert(afterC1 >= baseCount)

        // re-delivery of chunk1 (same rows as fresh files) must
        // resolve to zero new checksums
        chunk1.write.mode("append").parquet(d)
        q.processAllAvailable()
        assert(LayoutStore.read(spark, ckTable).count() == afterC1,
          "replayed batch must append nothing")

        chunk2.write.mode("append").parquet(d)
        q.processAllAvailable()

        // first-seen-wins keeper contract: a later batch carrying a
        // SMALLER doc_id for an already-known checksum changes nothing
        // (standing keepers are stable; displacement is the batch
        // incremental path's job)
        val known = chunk1.limit(1).collect().head
        val beforeSmaller = LayoutStore.read(spark, ckTable)
          .filter(col("ck") === md5(org.apache.spark.sql.functions
            .lit(known.getString(1))))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        import spark.implicits._
        Seq((-1L, known.getString(1))).toDF("doc_id", "text")
          .write.mode("append").parquet(d)
        q.processAllAvailable()
        val afterSmaller = LayoutStore.read(spark, ckTable)
          .filter(col("ck") === md5(org.apache.spark.sql.functions
            .lit(known.getString(1))))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(afterSmaller == beforeSmaller,
          s"smaller-id re-arrival must not displace the keeper: " +
            s"$beforeSmaller -> $afterSmaller")
      } finally q.stop()

      // every delta checksum now resolves against the maintained map
      val unresolved = delta.select(md5(col("text")).as("ck"))
        .join(LayoutStore.read(spark, ckTable), Seq("ck"), "left_anti")
        .count()
      assert(unresolved == 0, s"$unresolved delta cks missing after upkeep")
      // and the map holds no duplicate checksums
      val dups = LayoutStore.read(spark, ckTable)
        .groupBy("ck").agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .filter(col("n") > 1).count()
      assert(dups == 0, s"$dups duplicate checksums in the keeper map")

      // restart: catalog death + memo wipe — the maintained table
      // re-registers over its files and still resolves everything
      LayoutOps.dropCatalogEntries(spark, Sf)
      Memo.clear(spark)
      assert(LayoutOps.ensure(spark, Sf, "upkeep_ck") == "reregistered")
      assert(delta.select(md5(col("text")).as("ck"))
        .join(LayoutStore.read(spark, ckTable), Seq("ck"), "left_anti")
        .count() == 0)
    }
  }

  test("E42 bloom gate: zero false negatives on base ids, exact-probe volume smaller, gated fresh rows bit-equal to ungated") {
    withCleanLayouts {
      import graft.functions.BloomFns
      import graft.operators.TextOps
      val baseDocs = LayoutOps.table(spark, Sf, "postings_basedocs")
      val bloom = BloomFns.build(baseDocs, col("doc_id"),
        math.max(baseDocs.count(), 1L))
      val might = BloomFns.mightContain(bloom, col("doc_id"))
      // the contract that makes the gate lossless: a Bloom NEGATIVE is
      // a definitive non-member — every base id must test positive
      assert(baseDocs.filter(!might).count() == 0,
        "bloom false negative on a base id")
      // the gate's point (the metered-smaller claim): a mostly-fresh
      // arrival stream is mostly bloom-negative, so only a fraction of
      // the batch reaches the exact base anti-join
      val arrivals = Tables.documents(spark, Sf)
        .filter(col("doc_id") % 10 === 7).select("doc_id").distinct()
      val total = arrivals.count()
      val positives = arrivals.filter(might).count()
      assert(positives < total / 2,
        s"bloom passes $positives of $total fresh arrivals to the exact probe")
      // parity: the gated derivation emits bit-identically to the
      // ungated one on a MIXED batch (fresh + re-delivered base docs)
      val fam = LayoutOps.families.find(_.name == "postings_delta").get
      val t = LayoutOps.tableName(fam, Sf)
      LayoutOps.ensure(spark, Sf, "postings_delta")
      val mixed = Tables.documents(spark, Sf)
        .filter(col("doc_id") % 10 === 7 || col("doc_id") % 20 === 4)
        .select("doc_id", "text")
      val gated = rows(graft.streaming.StreamOps.postingsFresh(
        spark, t, baseDocs, bloom, mixed))
      val indexed = LayoutStore.read(spark, t).select("doc_id").distinct()
      val ungated = rows(TextOps.tfOf(mixed)
        .join(indexed, Seq("doc_id"), "left_anti")
        .join(baseDocs, Seq("doc_id"), "left_anti"))
      assert(gated.sorted == ungated.sorted,
        s"gated ${gated.length} rows != ungated ${ungated.length}")
      assert(gated.nonEmpty)
    }
  }

  test("E42 streaming postings upkeep: exactly-once appends, served merge == full rebuild, restart parity") {
    withCleanLayouts {
      import graft.operators.TextOps
      val fam = LayoutOps.families.find(_.name == "postings_delta").get
      val t = LayoutOps.tableName(fam, Sf)
      val delta = Tables.documents(spark, Sf)
        .filter(col("doc_id") % 10 === 7)
        .select("doc_id", "text")
      val chunk1 = delta.filter(col("doc_id") % 20 === 7)
      val chunk2 = delta.filter(col("doc_id") % 20 =!= 7)

      val d = java.nio.file.Files.createTempDirectory("postings_upkeep")
        .toFile.getAbsolutePath
      chunk1.write.mode("overwrite").parquet(d)
      val q = graft.streaming.StreamOps.postingsUpkeepStream(spark, Sf,
        spark.readStream.schema(delta.schema).parquet(d))
      try {
        q.processAllAvailable()
        val afterC1 = LayoutStore.read(spark, t).count()
        assert(afterC1 > 0, "first chunk appended nothing")

        // replayed micro-batch (restart re-delivery): its documents
        // are already indexed, so the table must not change
        chunk1.write.mode("append").parquet(d)
        q.processAllAvailable()
        assert(LayoutStore.read(spark, t).count() == afterC1,
          "replayed batch must append nothing")

        // a re-delivered BASE-corpus document (already indexed in
        // postings_base) must also append nothing — the basedocs
        // sidecar guard, NOT a disjointness convention on the stream
        Tables.documents(spark, Sf).filter(col("doc_id") % 10 =!= 7)
          .limit(3).select("doc_id", "text")
          .write.mode("append").parquet(d)
        q.processAllAvailable()
        assert(LayoutStore.read(spark, t).count() == afterC1,
          "base-corpus re-delivery must append nothing")

        chunk2.write.mode("append").parquet(d)
        q.processAllAvailable()
      } finally q.stop()

      // the stream-maintained merge serves EXACTLY the full rebuild —
      // the same parity contract as the batch D70 path
      val fullRebuild = rows(TextOps.invertedPostings(spark, Sf))
      assert(rows(TextOps.postingsServedWithDelta(spark, Sf)) == fullRebuild,
        "stream-maintained merge diverges from the full rebuild")

      // restart: catalog death + memo wipe — both tables re-register
      // over surviving files and the merge is unchanged
      LayoutOps.dropCatalogEntries(spark, Sf)
      Memo.clear(spark)
      assert(rows(TextOps.postingsServedWithDelta(spark, Sf)) == fullRebuild,
        "restarted session must serve the identical merge")
    }
  }
}
