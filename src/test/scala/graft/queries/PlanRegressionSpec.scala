package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape regressions: the optimizations in SURVEY §3a, asserted so a
  * future change can't silently reintroduce N-parses-per-row or lose a
  * pushdown. String-level checks against the executed plan are crude but
  * catch exactly the failure modes we hit while building.
  */
object ExportQueriesPlanHelper {
  /** Executed plan TREE (AQE-unwrapped enough for node collection: the
    * initial physical plan is what we pin). */
  def exec(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
}

class PlanRegressionSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOccurrences(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  test("export pipeline evaluates envelope parse once + AES exactly twice") {
    val plan = executedPlan(ExportQueries.exportRecords(spark, sf))
    assert(countOccurrences(plan, "envelope_extract(") == 1,
      s"envelope parse duplicated:\n$plan")
    // 1 encrypt (kv model) + decrypt referenced from the audit-promote
    // when() branches (ctx / auditType / otherwise) — branch copies are
    // LAZY: non-audit rows evaluate exactly one decrypt.
    // (branch copies are LAZY when()-arms: non-audit rows run one decrypt,
    // audit rows two — the count below is plan-text occurrences, not
    // per-row evaluations)
    assert(countOccurrences(plan, "aes_ctr(") <= 5,
      s"aes_ctr count regressed:\n$plan")
    assert(countOccurrences(plan, "validate_record(") == 1)
    // every exchange sits BELOW the per-row pipeline: no exchange's subtree
    // parses, decrypts or validates, so neither a range partitioner's
    // sample job nor a shuffle map stage runs that work a second time, and
    // the final orderBy(eid) plans no exchange of its own
    for ((name, q) <- Seq(
        "export_records" -> ExportQueries.exportRecords(spark, sf),
        "incremental_export" -> ExportQueries.incrementalExport(spark, sf),
        "envelope_extract" -> ExportQueries.envelopeExtract(spark, sf))) {
      val shuffles = ExportQueriesPlanHelper.exec(q).collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, s"$name: no spread")
      for (e <- shuffles; needle <- Seq("envelope_extract(", "validate_record(", "aes_ctr(unbase64(")) {
        val below = e.child.collect { case n => n.expressions.map(_.toString) }.flatten
        assert(!below.exists(_.contains(needle)),
          s"$name: $needle below ${e.outputPartitioning}:\n${q.queryExecution.executedPlan}")
      }
      assert(!shuffles.exists(e => e.shuffleOrigin == ENSURE_REQUIREMENTS &&
          e.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$name: the final sort plans its own exchange:\n${q.queryExecution.executedPlan}")
    }
  }

  test("jsonl sink: the chunk window reuses the pipeline's one exchange, below the decrypt") {
    val chunked = graft.sources.JsonlSnapshotSink.chunkedFrame(
      ExportQueries.pipelineRecords(spark, sf), graft.sources.JsonlSnapshotSink.Prefix,
      graft.kv.KvModel.ChunkMaxBytes, graft.sources.GzipSnapshotCodec)
    val shuffles = ExportQueriesPlanHelper.exec(chunked).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"sink input plans ${shuffles.size} exchanges:\n${chunked.queryExecution.executedPlan}")
    assert(!shuffles.head.child.toString.contains("envelope_extract("), "exchange above the pipeline")
  }

  test("grouped_topk plans the custom two-phase operator, not an aggregate chain") {
    val plan = executedPlan(Analytics.groupedTopK(spark, sf))
    assert(plan.contains("GroupedTopKPartial"), s"partial exec missing:\n$plan")
    assert(plan.contains("GroupedTopKFinal"), s"final exec missing:\n$plan")
    // the pruning rule must narrow the scan to the three referenced columns
    assert(!plan.contains("o_orderdate"), s"scan not pruned to 3 cols:\n$plan")
  }

  test("export stages stay under HotSpot's 8000-byte method JIT limit") {
    // a generated method past HotSpot's HugeMethodLimit (8000 bytecode
    // bytes) is never JIT-compiled and runs interpreted: the export's heavy
    // stage slows ~1.7x when its per-row pipeline crosses it
    import graft.sources.{GzipSnapshotCodec, JsonlSnapshotSink}
    val frames = Seq(
      "exportRecords" -> ExportQueries.exportRecords(spark, sf),
      "incrementalExport" -> ExportQueries.incrementalExport(spark, sf),
      "snapshot writer" -> JsonlSnapshotSink.chunkedFrame(ExportQueries.pipelineRecords(spark, sf),
        JsonlSnapshotSink.Prefix, graft.kv.KvModel.ChunkMaxBytes, GzipSnapshotCodec))
    frames.foreach { case (name, df) =>
      df.queryExecution.toRdd.count() // AQE: the final plan holds the codegen stages
      val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(df.queryExecution.executedPlan)
      assert(stages.nonEmpty, s"$name: no whole-stage codegen subtree")
      stages.foreach { case (subtree, _, stats) =>
        assert(stats.maxMethodCodeSize > 0 && stats.maxMethodCodeSize < 8000,
          s"$name: a generated method of ${stats.maxMethodCodeSize} bytes in\n$subtree")
      }
    }
  }

  test("multimodal codec paths are scan-bound: no data shuffle before the presentation sort") {
    // the encode→decode mapPartitions chains must stay narrow; the ONLY
    // exchange allowed is the range spread on doc_id below the chain (its
    // sample reads the documents scan; the presentation sort is local)
    for (q <- Seq(MultimodalQueries.multimodalDecode(spark, sf),
                  MultimodalQueries.multimodalAudio(spark, sf))) {
      val shuffles = ExportQueriesPlanHelper.exec(q).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.size <= 1, s"codec path gained a data shuffle:\n${q.queryExecution.executedPlan}")
      shuffles.foreach(e => assert(
        e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
        s"non-sort exchange in codec path: ${e.outputPartitioning}"))
    }
  }

  test("q1 pushes the shipdate filter and prunes the scan schema") {
    val plan = executedPlan(Analytics.q1Agg(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$plan")
    assert(!plan.contains("l_comment"), "scan schema not pruned")
  }

  test("kv time-range scan pushes the raw ts predicate into the parquet scan") {
    val plan = executedPlan(ExportQueries.timeRangeScan(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"ts predicate not pushed:\n$plan")
  }

  test("q3 broadcasts the dimension side") {
    val df = Analytics.q3Join(spark, sf)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan
    val broadcasts = plan.toString
    assert(broadcasts.contains("BroadcastHashJoin"), s"no broadcast join:\n$broadcasts")
  }

  test("latest_cell is a single-shuffle partial aggregation (no window sort)") {
    val plan = executedPlan(ExportQueries.latestCell(spark, sf))
    assert(!plan.contains("Window"), s"latest_cell fell back to a window:\n$plan")
  }

  test("subset pipeline queries filter BEFORE the envelope build/decrypt") {
    // The etype predicate must sit below envelope_extract in the plan (the
    // pinned expressions block pushdown, so records() threads it in
    // explicitly). Plan text lists children below parents: the Filter line
    // with event_type must appear AFTER the envelope_extract projection.
    val plan = executedPlan(ExportQueries.sanitiseQ(spark, sf))
    val extractAt = plan.indexOf("envelope_extract(")
    val filterAt = plan.indexOf("event_type")
    assert(extractAt >= 0 && filterAt > extractAt,
      s"etype filter not below the envelope build:\n$plan")
    // and the whole pipeline still parses/validates once per row
    assert(countOccurrences(plan, "envelope_extract(") == 1)
    assert(countOccurrences(plan, "validate_record(") == 1)
  }

  test("corpus_curate is scan + ONE data shuffle (the dedup exchange)") {
    val plan = ExportQueriesPlanHelper.exec(TextQueries.corpusCurate(spark, sf))
    // exactly one HASH exchange (the dedup groupBy); the trailing range
    // exchange is the oracle's display orderBy, not data movement the
    // pipeline needs
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size == 1, s"expected exactly one hash exchange:\n$plan")
  }

  test("contamination_check never shuffles corpus grams: broadcast join only") {
    val plan = ExportQueriesPlanHelper.exec(TextQueries.contaminationCheck(spark, sf))
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"benchmark grams not broadcast:\n$plan")
    // the only exchanges allowed: the bench-gram DISTINCT (tiny) and the
    // final per-doc aggregation — the exploded corpus-gram side must reach
    // the join without a shuffle
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size <= 2, s"corpus grams shuffled:\n$plan")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("pii_redact is a pure projection: zero data shuffles") {
    val plan = ExportQueriesPlanHelper.exec(CurationQueries.piiRedact(spark, sf))
    // scan → regex projection → display orderBy (range exchange). Any HASH
    // exchange means a join/agg crept into a per-row operator.
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.isEmpty, s"pii_redact shuffled:\n$plan")
  }

  test("doc_repetition is two hash aggregations, no window") {
    val plan = ExportQueriesPlanHelper.exec(CurationQueries.docRepetition(spark, sf))
    // (doc,gram) count + per-doc rollup — both partial+final hash aggs on
    // skew-free keys; a Window would mean a full per-doc sort sneaked in
    assert(!plan.toString.contains("Window"), s"doc_repetition planned a window:\n$plan")
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size <= 2, s"expected ≤2 hash exchanges:\n$plan")
  }

  test("line_dedup scale mode never broadcasts the corpus-growing common-line set") {
    val plan = ExportQueriesPlanHelper.exec(
      CurationQueries.lineDedupWith(spark, sf, "shuffle"))
    val txt = plan.toString
    assert(!txt.contains("BroadcastHashJoin") && !txt.contains("BroadcastExchange"),
      s"scale mode broadcast the common-line set:\n$txt")
    assert(txt.contains("ShuffledHashJoin"), s"mark-back not a shuffled hash join:\n$txt")
    // the segmentation chain runs ONCE: both consumers read the persisted frame
    assert(txt.contains("InMemoryTableScan"), s"lines frame not persisted:\n$txt")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("dedup_substring scale mode never broadcasts the corpus-growing dup-window set") {
    val plan = ExportQueriesPlanHelper.exec(
      CurationQueries.dedupSubstringWith(spark, sf, "shuffle"))
    val txt = plan.toString
    assert(!txt.contains("BroadcastHashJoin") && !txt.contains("BroadcastExchange"),
      s"scale mode broadcast the dup-window set:\n$txt")
    assert(txt.contains("ShuffledHashJoin"), s"mark-back not a shuffled hash join:\n$txt")
    assert(txt.contains("InMemoryTableScan"), s"window frame not persisted:\n$txt")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("quality_classifier is a pure projection: zero data shuffles") {
    val plan = ExportQueriesPlanHelper.exec(PipelineQueries.qualityClassifier(spark, sf))
    // scan → feature/logit projection → display orderBy (range exchange
    // only). Any HASH exchange means an agg/join crept into a per-row op.
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.isEmpty, s"quality_classifier shuffled:\n$plan")
  }

  test("vocab_coverage broadcasts only the constant-K vocab; token frame persisted") {
    val plan = ExportQueriesPlanHelper.exec(PipelineQueries.vocabCoverage(spark, sf))
    val txt = plan.toString
    // the vocab mark-back must be a broadcast (constant K=100 rows)…
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"vocab not broadcast:\n$txt")
    // …the vocab build must be per-partition top-K, never a global sort…
    assert(txt.contains("TakeOrderedAndProject"), s"vocab build sorted globally:\n$txt")
    // …and the exploded token frame is persisted (one segmentation pass
    // feeding both the vocab agg and the per-doc rollup)
    assert(txt.contains("InMemoryTableScan"), s"token frame not persisted:\n$txt")
    // exchanges: vocab agg + per-doc rollup — the token side reaches the
    // join without an extra shuffle
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size <= 2, s"token frame shuffled:\n$txt")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("sequence_pack is one bin shuffle + per-bin window, no global sort") {
    val plan = ExportQueriesPlanHelper.exec(PipelineQueries.sequencePack(spark, sf))
    val txt = plan.toString
    // the running-offset window is PARTITIONED by bin (the whole point:
    // per-bin sorts parallelize; an empty partition spec would be a
    // single-task global cumsum)
    assert(txt.contains("Window"), s"no window in sequence_pack:\n$txt")
    assert(!txt.contains("Window [") || !txt.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"window lost its bin partitioning:\n$txt")
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    // bin repartition for the window + (bin,seq) agg reuses the bin prefix
    // — Catalyst plans the rollup without a second full exchange when the
    // partitioning is compatible; allow ≤2 to not overfit the version
    assert(hashExchanges.size <= 2, s"sequence_pack over-shuffled:\n$txt")
  }

  test("domain_mix: ONE corpus scan + one hash agg; totals ride bounded windows, no broadcast jobs") {
    val plan = ExportQueriesPlanHelper.exec(PipelineQueries.domainMix(spark, sf))
    val txt = plan.toString
    // r11 shape: both grand totals are unpartitioned windows over the
    // per-source AGGREGATE (#domains rows — bounded at any corpus size),
    // ONE action end-to-end; the previous cache + two single-row
    // broadcast cross joins cost 2 extra jobs (measured 0.63 → 0.35s)
    assert(txt.count(_ == '\n') > 0 && "FileScan.*documents".r.findAllIn(txt).size == 1,
      s"domain_mix scanned the corpus more than once:\n$txt")
    assert(txt.contains("Window"), s"totals no longer ride the bounded window:\n$txt")
    assert(!txt.contains("BroadcastExchange") && !txt.contains("InMemoryTableScan"),
      s"domain_mix still pays broadcast/cache jobs:\n$txt")
    // the ONLY data shuffle is the per-source aggregation exchange; the
    // window's single-partition exchange moves #domains rows
    graft.CacheRegistry.releaseAll(spark)
  }

  test("knn_ivf_pq: every corpus-side join is broadcast (probes/LUTs/shortlist); no SMJ/SHJ anywhere") {
    val plan = ExportQueriesPlanHelper.exec(VectorQueries.knnIvfPq(spark, sf))
    val txt = plan.toString
    // query-time contract: candidate generation + ADC scoring + re-rank
    // never shuffle the corpus — codebooks, probes, LUTs and the bounded
    // shortlist all arrive as broadcasts; the only exchanges are the
    // build aggregation and the bounded grouped top-k
    assert(!txt.contains("SortMergeJoin"), s"SMJ in the ivf-pq plan:\n$txt")
    assert(!txt.contains("ShuffledHashJoin"), s"SHJ in the ivf-pq plan:\n$txt")
    assert(txt.contains("BroadcastHashJoin"), s"no broadcast joins found:\n$txt")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("knn_ivf_pq_res: residual encode keeps the corpus-side broadcast-only contract") {
    val plan = ExportQueriesPlanHelper.exec(VectorQueries.knnIvfPqRes(spark, sf))
    val txt = plan.toString
    // residual encoding adds one corpus aggregation (cell + residual
    // resolve before codes) but must not add any corpus-sized equi-join:
    // emb/cemb ride the aggs, model/probes/LUTs/shortlist broadcast
    assert(!txt.contains("SortMergeJoin"), s"SMJ in the residual ivf-pq plan:\n$txt")
    assert(!txt.contains("ShuffledHashJoin"), s"SHJ in the residual ivf-pq plan:\n$txt")
    assert(txt.contains("BroadcastHashJoin"), s"no broadcast joins found:\n$txt")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("semantic_dedup scale mode never broadcasts the corpus-growing dropped set") {
    val df = VectorQueries.semanticDedupWith(spark, sf, "shuffle")
    val plan = ExportQueriesPlanHelper.exec(df)
    val txt = plan.toString
    // centroids: constant local relation (broadcast is fine — it's C=64
    // rows at any scale); the dropped-id mark-back must NOT be a broadcast
    assert(txt.contains("ShuffledHashJoin"), s"mark-back not a shuffled hash join:\n$txt")
    assert(txt.contains("LocalTableScan"), s"centroids not a constant local relation:\n$txt")
    assert(txt.contains("InMemoryTableScan"), s"cell frame not persisted:\n$txt")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("corpus_stats is one bounded-key aggregation: no window, single hash exchange") {
    val plan = ExportQueriesPlanHelper.exec(PipelineQueries.corpusStats(spark, sf))
    assert(!plan.toString.contains("Window"), s"corpus_stats planned a window:\n$plan")
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size <= 1, s"corpus_stats over-shuffled:\n$plan")
  }

  test("mix_sample: rate frame broadcast onto the corpus scan, one rollup") {
    val plan = ExportQueriesPlanHelper.exec(PipelineQueries.mixSample(spark, sf))
    // the #sources rate frame must reach the corpus as a broadcast — the
    // corpus side joins without shuffling
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"rate frame not broadcast:\n$plan")
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    // per-source weight agg + the final rollup; the corpus scan itself
    // must not hash-exchange before the join
    assert(hashExchanges.size <= 2, s"mix_sample over-shuffled:\n$plan")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("bucketed_join: co-located join plans with ZERO exchanges") {
    val df = graft.sources.Bucketing.bucketedJoinFrames(spark, sf)
    val plan = ExportQueriesPlanHelper.exec(df)
    // both sides bucketed+sorted on doc_id → the join must read the bucket
    // layout directly: no exchange anywhere except the display orderBy's
    // range partitioning
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.isEmpty, s"bucketed join shuffled:\n$plan")
    assert(plan.toString.contains("SortMergeJoin") || plan.toString.contains("ShuffledHashJoin"),
      s"expected a co-located join:\n$plan")
    assert(plan.toString.contains("Bucketed: true"), s"scan did not use the bucket layout:\n$plan")
  }

  test("knn_graph_indexed: index side reads the bucket layout with no exchange") {
    val df = VectorQueries.knnGraphIndexed(spark, sf)
    val plan = ExportQueriesPlanHelper.exec(df)
    // the persisted index must flow into the probe join straight from its
    // bucketed scan: the join child holding the index scan must contain NO
    // shuffle (exchanges above the join — top-k, presentation sort — are
    // downstream of the layout and expected)
    val joinIndexSides = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.children.filter(_.toString.contains("graft_ivf_cells"))
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.children.filter(_.toString.contains("graft_ivf_cells"))
    }.flatten
    assert(joinIndexSides.nonEmpty, s"no join over the index scan found:\n$plan")
    joinIndexSides.foreach { side =>
      val shuffles = side.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"index side re-shuffled:\n$plan")
    }
    assert(plan.toString.contains("Bucketed: true"),
      s"index scan did not use the bucket layout:\n$plan")
    assert(plan.toString.contains("SortMergeJoin") || plan.toString.contains("ShuffledHashJoin"),
      s"expected the co-located join path:\n$plan")
  }

  test("sorted = false drops the presentation range exchange, same rows") {
    def rangeExchanges(df: DataFrame): Int =
      ExportQueriesPlanHelper.exec(df).collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
      }.size
    val targets: Seq[Boolean => DataFrame] = Seq(
      s => Analytics.userHistory(spark, sf, s), s => Analytics.saltedJoin(spark, sf, s))
    targets.foreach { q =>
      val sorted = q(true)
      assert(rangeExchanges(sorted) >= 1, "gate mode lost its deterministic sort")
      val prod = q(false)
      assert(rangeExchanges(prod) == 0, s"production mode still range-exchanges:\n${prod.queryExecution.executedPlan}")
      assert(prod.collect().toSet == sorted.collect().toSet, "sorted = false changed the row SET — it may only drop ordering")
    }
  }

  test("knn_index_update: persisted base index reaches the probe join with NO base-side exchange") {
    val df = VectorQueries.knnIndexUpdate(spark, sf)
    val plan = ExportQueriesPlanHelper.exec(df)
    // the probe join (probes broadcast) must stream the persisted layout's
    // scan directly: any shuffle whose subtree contains the persisted base
    // table would mean the index is re-partitioned per batch — the
    // base-sized cost the operator exists to avoid. The arrivals side's
    // batch-sized assignment shuffle and the top-k aggregation exchange
    // downstream of the join are expected and excluded by construction.
    val streamSides = plan.collect {
      case j: BroadcastHashJoinExec =>
        j.children.filter(_.toString.contains("graft_ivfupd_base"))
    }.flatten
    assert(streamSides.nonEmpty, s"no probe join streaming the persisted index scan:\n$plan")
    streamSides.foreach { side =>
      val baseShuffles = side.collect {
        case e: ShuffleExchangeExec if e.toString.contains("graft_ivfupd_base") => e
      }
      assert(baseShuffles.isEmpty, s"persisted base side re-shuffled below the probe join:\n$plan")
    }
  }

  test("knn_ivf_pq_update: persisted code table reaches the probe join with NO base-side exchange") {
    val df = VectorQueries.knnIvfPqUpdate(spark, sf)
    val plan = ExportQueriesPlanHelper.exec(df)
    // the №119 pin applied to the PQ serving shape: the bucketed CODE
    // table (M bytes per vector — the store's only per-vector state)
    // must stream into the broadcast probe join unshuffled; arrivals
    // encode + the top-k exchange downstream are expected
    // walk the path from the bucketed code SCAN up to the first join it
    // feeds: that segment must contain no shuffle (the union with the
    // arrivals encode and columnar wrappers are fine); everything above
    // the join (adc top-k exchange, re-rank) legitimately shuffles the
    // workload-bounded candidate frame, not the store
    def pathToScan(node: org.apache.spark.sql.execution.SparkPlan): Option[List[org.apache.spark.sql.execution.SparkPlan]] =
      if (node.children.isEmpty && node.toString.contains("graft_ivfpqu_codes")) Some(List(node))
      else node.children.view.flatMap(pathToScan).headOption.map(node :: _)
    val path = pathToScan(plan)
    assert(path.nonEmpty, s"no scan of the persisted code table in the plan:\n$plan")
    val scanUp = path.get.reverse // scan .. root
    val belowJoin = scanUp.takeWhile(!_.isInstanceOf[BroadcastHashJoinExec])
    assert(belowJoin.size < scanUp.size, s"code scan never reaches a broadcast probe join:\n$plan")
    assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"persisted code side re-shuffled below the probe join:\n$plan")
  }

  test("knn_ivf_pq_res_update: persisted residual code table reaches the probe join with NO base-side exchange") {
    val df = VectorQueries.knnIvfPqResUpdate(spark, sf)
    val plan = ExportQueriesPlanHelper.exec(df)
    // №162's pin applied to the residual serving shape: same bucketed
    // store contract, different table
    def pathToScan(node: org.apache.spark.sql.execution.SparkPlan): Option[List[org.apache.spark.sql.execution.SparkPlan]] =
      if (node.children.isEmpty && node.toString.contains("graft_ivfpqru_codes")) Some(List(node))
      else node.children.view.flatMap(pathToScan).headOption.map(node :: _)
    val path = pathToScan(plan)
    assert(path.nonEmpty, s"no scan of the persisted residual code table in the plan:\n$plan")
    val scanUp = path.get.reverse
    val belowJoin = scanUp.takeWhile(!_.isInstanceOf[BroadcastHashJoinExec])
    assert(belowJoin.size < scanUp.size, s"residual code scan never reaches a broadcast probe join:\n$plan")
    assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"persisted residual code side re-shuffled below the probe join:\n$plan")
  }

  test("dedup_incremental bloom mode: membership probe prunes the base SCAN, below the join") {
    val df = TextQueries.dedupIncrementalWith(spark, sf, "bloom")
    val plan = ExportQueriesPlanHelper.exec(df)
    // the bloom probe must sit on the base-side scan path (a FilterExec
    // with the might_contain expression whose subtree is the file scan),
    // NOT above the join — that placement is what keeps the 100 TB base
    // out of the exchange
    val probeFilters = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("might_contain") => f
    }
    assert(probeFilters.nonEmpty, s"no bloom membership probe in the plan:\n$plan")
    assert(probeFilters.exists(_.collectLeaves().exists(_.toString.contains("Scan"))),
      s"bloom probe not on a scan path:\n$plan")
    val joins = plan.collect { case j if j.nodeName.contains("Join") => j }
    assert(joins.exists(_.toString.contains("LeftAnti")), s"anti-join missing:\n$plan")
  }

  test("knn_ivf centroids are a constant local relation; sample is TakeOrdered") {
    // refined centroids: the k-means sample collect runs as its own tiny
    // job whose plan must be a bounded TakeOrdered (per-partition top-M,
    // no global sort shuffle)…
    import org.apache.spark.sql.functions._
    val v = graft.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").as("emb"))
    val samplePlan = executedPlan(
      v.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(VectorQueries.SampleM).select(col("emb")))
    assert(samplePlan.contains("TakeOrderedAndProject"),
      s"centroid sample not collapsed to TakeOrdered:\n$samplePlan")
    // …and the search plan broadcasts the refined centroids as a CONSTANT
    // local relation (no corpus re-scan, no sort anywhere in the plan)
    val plan = executedPlan(VectorQueries.knnIvf(spark, sf))
    assert(plan.contains("LocalTableScan"),
      s"refined centroids not a constant local relation:\n$plan")
  }
}
