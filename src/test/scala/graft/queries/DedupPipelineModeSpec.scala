package graft.queries

/** №179 dedup_pipeline_mp: the pair-finding mode contract (the
  * line_dedup auto/shuffle precedent). The two modes differ only in
  * candidate GENERATION — PPJoin prefix filtering vs №173's banded
  * multiprobe — and both verify candidates with the same exact τ=3/5
  * test, so on a corpus where multiprobe recall is 1.0 (measured by
  * №173 on the gate corpora) the pipelines must be ROW-IDENTICAL.
  * Equality here is measured, not assumed: the driver oracle for the
  * mp row independently rebuilds the multiprobe chain, so a recall
  * regression surfaces in BOTH places. */
class DedupPipelineModeSpec extends graft.SparkSpec {

  test("ppjoin and minhash_mp pipelines are row-identical on the gate corpus; default mode is ppjoin") {
    val pp = CurationQueries.dedupPipelineWith(spark, sf, "ppjoin").collect().toSeq
    val mp = CurationQueries.dedupPipelineWith(spark, sf, "minhash_mp").collect().toSeq
    assert(pp.nonEmpty)
    assert(pp == mp,
      s"modes diverged: ppjoin ${pp.length} rows, minhash_mp ${mp.length} rows; " +
        s"first diff: ${pp.zip(mp).find { case (a, b) => a != b }}")
    // the dedup_pipeline row is the ppjoin mode
    val row = CurationQueries.dedupPipeline(spark, sf).collect().toSeq
    assert(row == pp, "the dedup_pipeline row is not the ppjoin mode")
    // and an unknown mode fails loudly, never silently falls back
    intercept[IllegalArgumentException] {
      CurationQueries.dedupPipelineWith(spark, sf, "bogus").collect()
    }
  }

  test("№183 budgeted multiprobe mode: same rows at a 6x smaller probe bill; candidates shrink") {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, sf).persist())
    // candidate-count ordering: the budget can only REMOVE probe pairs
    // (base pairs survive any budget) — this is what makes the saving
    // non-vacuous: the budgeted join consumed fewer probe rows
    val full = HashDedup.mpCandidatesFrom(tok).count()
    val b1 = HashDedup.mpCandidatesFrom(tok, budget = 1).count()
    assert(b1 <= full, s"budget=1 grew candidates ($b1 > $full)")
    graft.CacheRegistry.releaseAll(spark)
    // the graded dial: budgeted pipeline ≡ full multiprobe pipeline ≡
    // ppjoin pipeline on the gate corpus (df_rare front-loading measured
    // by №181 — full recall inside the budget)
    val budget = CurationQueries.dedupPipelineMpBudget(spark, sf).collect().toSeq
    val mp = CurationQueries.dedupPipelineWith(spark, sf, "minhash_mp").collect().toSeq
    assert(budget.nonEmpty && budget == mp,
      s"budgeted mode diverged from full multiprobe: ${budget.length} vs ${mp.length} rows; " +
        s"first diff: ${budget.zip(mp).find { case (a, b) => a != b }}")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("№188 simhash_mp mode: edges τ-verified ⊆ ppjoin's, keepers a superset — the measured strictness, not equality") {
    import org.apache.spark.sql.functions.col
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, sf).persist())
    // ppjoin's edge set is COMPLETE for τ=3/5 (prefix filter is exact);
    // every smp edge passes the same exact verification, so smp edges
    // must be a subset — the honest relation (smp is stricter upstream:
    // h≤3-of-96 fingerprint candidates, not all τ-true pairs)
    val ppEdges = TextQueries.dedupNgramJaccardFrom(tok)
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val smpEdges = TextQueries.verifyPairsOf(TextQueries.shingleFrameOf(tok),
        HashDedup.smpCandidatesFrom(tok))
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(smpEdges.nonEmpty, "simhash_mp found no verified edges on the gate corpus")
    assert(smpEdges.subsetOf(ppEdges),
      s"smp produced a non-τ-verified edge: ${(smpEdges -- ppEdges).take(3)}")
    graft.CacheRegistry.releaseAll(spark)
    // fewer edges ⇒ the partition refines ⇒ keeper DOC_IDs are a superset
    val pp = CurationQueries.dedupPipelineWith(spark, sf, "ppjoin").collect()
    val smp = CurationQueries.dedupPipelineWith(spark, sf, "simhash_mp").collect()
    val ppKeep = pp.map(_.getLong(0)).toSet
    val smpKeep = smp.map(_.getLong(0)).toSet
    assert(ppKeep.subsetOf(smpKeep),
      s"a ppjoin keeper vanished under simhash_mp: ${(ppKeep -- smpKeep).take(3)}")
    assert(smpKeep.size >= ppKeep.size)
  }
}
