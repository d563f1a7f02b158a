package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** The ScaleAudit amplifier's SELF-SIMILARITY contract — what makes
  * its fitted exponents measure the engine rather than the growth of
  * true duplicate structure: amplified shard k must be an isomorphic
  * image of the base corpus with zero cross-shard dedup collisions,
  * and the delta split must stay literally the base delta.
  */
class ScaleSpec extends GraftSpec {

  private lazy val ampDir = {
    val out = "/tmp/graft_scale_spec/x3"
    ScaleAudit.amplify(spark, Sf, 3, out)
    out
  }

  test("amplified corpus is F disjoint isomorphic shards: dedup pair structure scales exactly linearly") {
    // token-level, cap-free operator: the ~k tag renames every token,
    // so shard k's shingle relations are EXACTLY the base corpus's.
    // (Winnow is deliberately not the subject here: its 8-CHAR windows
    // see the tag bytes, and its ubiquity cap's RELATIVE leg
    // (df ≤ min(nDocs/20, WinnowDfCap)) grows with the corpus below
    // 20·cap docs, so a sharded corpus legitimately keeps more
    // fingerprints than its shards would alone — an operator-semantics
    // effect the SCALE_r9 notes call out, not an amplifier defect.)
    val base = DedupOps.dedupNgramJaccard(spark, Sf).collect()
    val amp = DedupOps.dedupNgramJaccard(spark, ampDir).collect()
    // every pair lives within one shard, so the count is EXACTLY F×
    assert(base.nonEmpty && amp.length == 3 * base.length,
      s"expected ${3 * base.length} pairs, got ${amp.length}")
    // and shard 0 (k=0 keeps original text) reproduces the base pairs
    // verbatim under the id map id -> id*3*10 + digit ≡ id*30 + id%10
    def mapped(id: Long) = id * 30 + id % 10
    val baseKeys = base.map(r =>
      (mapped(r.getLong(0)), mapped(r.getLong(1)), r.getLong(4))).toSet
    val ampKeys = amp.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(baseKeys.subsetOf(ampKeys),
      "shard 0 does not reproduce the base near-dup pairs")
  }

  test("delta split is literally the base delta: same count, corpus grows F times") {
    val baseDocs = Tables.documents(spark, Sf)
    val ampDocs = Tables.documents(spark, ampDir)
    val baseDelta = baseDocs.filter(col("doc_id") % 10 === 7).count()
    val ampDelta = ampDocs.filter(col("doc_id") % 10 === 7).count()
    assert(ampDelta == baseDelta,
      s"delta grew: base $baseDelta, amplified $ampDelta")
    assert(ampDocs.count() == 3 * baseDocs.count())
    // no id collisions and the exact-dup (checksum) structure also
    // scales exactly linearly — shards cannot collide on md5(text)
    assert(ampDocs.select("doc_id").distinct().count() == ampDocs.count())
    val baseCk = baseDocs.select(md5(col("text"))).distinct().count()
    val ampCk = ampDocs.select(md5(col("text"))).distinct().count()
    assert(ampCk == 3 * baseCk,
      s"cross-shard checksum collisions: $baseCk base vs $ampCk amplified")
  }

  test("every audited row resolves, and the graph upkeep twins return rows on the amplified corpus") {
    val audited = ScaleAudit.Audited
    val unresolved = audited.filterNot(q =>
      SparkEntry.queries.contains(q) || ScaleAudit.SpecialRows.contains(q))
    assert(unresolved.isEmpty, s"audited rows with no query: $unresolved")
    assert(audited.distinct.size == audited.size, "an audited row repeats")
    // the special rows run only in the hour-scale gate otherwise; at
    // f=3 the fixed arrival batch and the fixed queries are the k=0
    // shard's ids, exactly as at the gate's factors
    try {
      Seq("graph_upkeep_fold", "graph_upkeep_serve", "graph_maint_serve")
        .foreach { q =>
          ScaleAudit.prepAudited(spark, q, ampDir, 3)
          val n = ScaleAudit.auditedFrame(spark, q, ampDir, Sf, 3).count()
          assert(n > 0, s"$q returned no rows at f=3")
        }
    } finally
      sources.LayoutStore.purge(spark, ScaleAudit.auditDeltaTable(spark, ampDir))
  }
}
