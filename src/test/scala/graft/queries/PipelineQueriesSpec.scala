package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic checks for the pipeline-accounting operators (№52-55) and
  * semantic_dedup (№56) beyond the DuckDB hash oracle: conservation
  * invariants, decision-boundary consistency, known-dup behavior. */
class PipelineQueriesSpec extends SparkSpec {

  test("quality_classifier: keep flag is exactly the logit sign; features bounded") {
    val out = PipelineQueries.qualityClassifier(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val logit = r.getDouble(5); val keep = r.getBoolean(6)
      assert(keep == (logit >= 0.0), s"doc ${r.getLong(0)}: keep=$keep logit=$logit")
      // ratios in [0,1]; punct-per-token can exceed 1 only on pathological
      // rows (more punctuation than tokens) — the corpus has none
      Seq(1, 2, 4).foreach(i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.000001, s"feature $i out of range"))
    }
    // the boundary must split the corpus, not rubber-stamp it
    val kept = out.count(_.getBoolean(6))
    assert(kept > 0 && kept < out.length, s"degenerate classifier: $kept/${out.length} kept")
  }

  test("domain_mix: weights normalize, temperature flattens toward uniform") {
    val out = PipelineQueries.domainMix(spark, sf).collect()
    graft.CacheRegistry.releaseAll(spark)
    assert(out.length >= 2, "need multiple sources to mix")
    val shares = out.map(_.getDouble(3)); val weights = out.map(_.getDouble(4))
    assert(math.abs(shares.sum - 1.0) < 1e-3, s"shares sum ${shares.sum}")
    assert(math.abs(weights.sum - 1.0) < 1e-3, s"weights sum ${weights.sum}")
    // α=0.5 preserves the share ordering but compresses the spread
    val byShare = shares.zip(weights).sortBy(_._1)
    assert(byShare.zip(byShare.tail).forall { case ((_, w1), (_, w2)) => w2 >= w1 - 1e-9 },
      "temperature scaling broke the share ordering")
    assert(weights.max - weights.min <= shares.max - shares.min + 1e-9,
      "temperature scaling did not flatten the mixture")
    // epochs at the budget: weight*budget tokens drawn from n_tokens
    out.foreach { r =>
      val expected = PipelineQueries.MixTokenBudget.toDouble * r.getDouble(4) / r.getLong(2)
      assert(math.abs(r.getDouble(5) - expected) < 1e-4, s"epochs off for ${r.getString(0)}")
    }
  }

  test("mix_sample: md5 thresholding realizes the rates, budget fraction lands") {
    val out = PipelineQueries.mixSample(spark, sf).collect()
    graft.CacheRegistry.releaseAll(spark)
    assert(out.nonEmpty)
    var totTok = 0L; var keptTok = 0L
    out.foreach { r =>
      val (rate, nDocs, nKept) = (r.getDouble(1), r.getLong(2), r.getLong(3))
      assert(nKept <= nDocs)
      assert(rate > 0.0 && rate <= 1.0)
      // md5 prefixes are uniform: realized rate within 4σ of the target
      val sigma = math.sqrt(rate * (1 - rate) / nDocs)
      assert(math.abs(r.getDouble(5) - rate) <= 4 * sigma + 1e-6,
        s"${r.getString(0)}: realized ${r.getDouble(5)} vs rate $rate (n=$nDocs)")
      keptTok += r.getLong(4)
      totTok += 1 // placeholder; corpus totals checked below
    }
    val corpusTok = TextQueries.tokenCount(spark, sf)
      .agg(sum(col("ws_tokens"))).collect()(0).getLong(0)
    // the sampler draws ~MixSampleFraction of the corpus's token mass
    // (uniform-source corpus: rates hover near the fraction, so binomial
    // noise at sf0.001's ~50-doc strata needs a loose band)
    val frac = keptTok.toDouble / corpusTok
    assert(frac > PipelineQueries.MixSampleFraction - 0.2 &&
      frac < PipelineQueries.MixSampleFraction + 0.2,
      s"kept token fraction $frac far from budget ${PipelineQueries.MixSampleFraction}")
  }

  test("corpus_stats: percentiles ordered and bounded by the observed range") {
    val out = PipelineQueries.corpusStats(spark, sf).collect()
    assert(out.nonEmpty)
    val range = TextQueries.tokenCount(spark, sf)
      .agg(min(col("ws_tokens")), max(col("ws_tokens"))).collect()(0)
    val (lo, hi) = (range.getInt(0).toDouble, range.getInt(1).toDouble)
    out.foreach { r =>
      val (p50, p90, p99) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(p50 <= p90 && p90 <= p99, s"${r.getString(0)}: percentiles out of order")
      assert(p50 >= lo - 1 && p99 <= hi + 1, s"${r.getString(0)}: percentiles out of range")
      assert(r.getDouble(3) > 0, "mean must be positive")
    }
  }

  test("sequence_shuffle: shards partition the packed sequences, positions contiguous") {
    import org.apache.spark.sql.functions._
    val packed = PipelineQueries.sequencePack(spark, sf).count()
    val shuf = PipelineQueries.sequenceShuffle(spark, sf).collect()
    assert(shuf.length == packed, "every packed sequence gets exactly one shuffle slot")
    // within each shard, pos must be exactly 1..n (a loader reads it as a file order)
    shuf.groupBy(_.getInt(0)).foreach { case (shard, rows) =>
      val ps = rows.map(_.getLong(1)).sorted
      assert(ps.toSeq == (1L to ps.length).toSeq, s"shard $shard positions not contiguous: ${ps.take(5).toSeq}...")
    }
    // the shuffled order must not equal packing order within shards (the
    // point of the hash): at least one shard consumes out of (bin, seq) order
    val reordered = shuf.groupBy(_.getInt(0)).exists { case (_, rows) =>
      val inPos = rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      inPos != inPos.sorted
    }
    assert(reordered, "hash order degenerated to packing order")
    // plan shape: the row_number window is partitioned by shard (parallel),
    // never a global (unpartitioned) running rank
    val plan = PipelineQueries.sequenceShuffle(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(shard"), s"shard-partitioned window missing:\n$plan")
  }

  test("corpus_stats approx mode: dyadic-sketch percentiles ≡ plain-Scala grid replay, one-sided vs exact") {
    import org.apache.spark.sql.functions._
    val (lv, dp, wd, mx) =
      (TextQueries.QsLevels, TextQueries.QsDepth, TextQueries.QsWidth, TextQueries.QsMax)
    val approx = PipelineQueries.corpusStatsWith(spark, sf, exact = false).collect()
    val rawToks = TextQueries.tokenCount(spark, sf)
      .join(graft.Tables(spark, sf).documents.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("ws_tokens").cast("long").as("n_tok"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted).toMap
    val toks = rawToks.view.mapValues(_.map(math.min(_, mx.toLong)).sorted).toMap
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val lang = r.getString(0)
      val vals = toks(lang)
      val n = vals.length.toLong
      // first-principles replay of the №158 grid for this group
      val grid = scala.collection.mutable.Map.empty[(Int, Int, Int), Long].withDefaultValue(0L)
      vals.foreach { x =>
        for (l <- 0 until lv; d <- 0 until dp)
          grid((l, d, graft.functions.CountMin.slot(d, s"$l:${x >> l}", wd))) += 1L
      }
      def estRank(v: Long): Long =
        if (v == mx) n
        else (0 until lv).map { l =>
          if (((v + 1) >> l & 1L) == 1L) {
            val idx = (v + 1 >> l) - 1
            (0 until dp).map(d => grid((l, d, graft.functions.CountMin.slot(d, s"$l:$idx", wd)))).min
          } else 0L
        }.sum
      for ((p100, idx) <- Seq(50 -> 4, 90 -> 5, 99 -> 6)) {
        val got = r.getDouble(idx).toLong
        // engine ≡ the replayed sketch read-out (min over the full domain)
        val want = (0L to mx.toLong).find(v => 100L * estRank(v) >= p100 * n).get
        assert(got == want, s"$lang p$p100: engine $got != replayed sketch $want")
        // one-sided: est_rank ≥ true rank everywhere ⇒ est ≤ exact quantile
        val exact = vals((((p100 * n + 99) / 100).toInt - 1).max(0))
        assert(got <= exact, s"$lang p$p100=$got overshoots exact $exact — one-sidedness broken")
      }
      // the audit columns stay exact: mean is n_tokens/n_docs regardless of mode
      assert(r.getLong(1) == n)
      // the domain clamp is surfaced, not silent: n_clamped counts docs
      // reported AT the ceiling because raw n_tok exceeded 2^levels − 1
      assert(r.getLong(7) == rawToks(lang).count(_ > mx.toLong),
        s"$lang n_clamped=${r.getLong(7)} != recount")
    }
    // the sketch genuinely deviates somewhere at this width (earns 'approx')
    val exactRows = PipelineQueries.corpusStatsWith(spark, sf, exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.exists(r =>
      (4 to 6).exists(i => r.getDouble(i) != exactRows(r.getString(0)).getDouble(i))),
      "approx ≡ exact everywhere — width too wide to exercise the sketch")
  }

  test("corpus_stats approx: the levels dial surfaces its clamp") {
    import org.apache.spark.sql.functions._
    val lv = 6 // domain [0, 64): this corpus's documents exceed it for sure
    val mx = (1L << lv) - 1
    val narrow = PipelineQueries.corpusStatsWith(spark, sf, exact = false, levels = lv)
      .collect()
    val raw = TextQueries.tokenCount(spark, sf)
      .join(graft.Tables(spark, sf).documents.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("ws_tokens").cast("long").as("n_tok"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1))).toMap
    assert(narrow.exists(_.getLong(7) > 0), "narrow domain never clamped — dial untested")
    narrow.foreach { r =>
      assert(r.getLong(7) == raw(r.getString(0)).count(_ > mx),
        s"${r.getString(0)}: n_clamped miscounted")
      for (i <- 4 to 6)
        assert(r.getDouble(i) <= mx.toDouble, "percentile escaped the clamped domain")
    }
  }

  test("vocab_coverage: oov bounded per doc, corpus-level token accounting conserved") {
    val out = PipelineQueries.vocabCoverage(spark, sf).collect()
    graft.CacheRegistry.releaseAll(spark)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"doc ${r.getLong(0)}: n_oov > n_tok")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.000001)
    }
    // every token the corpus tokenizes is scored exactly once
    val total = TextQueries.tokenCount(spark, sf)
      .agg(sum(col("ws_tokens"))).collect()(0).getLong(0)
    assert(out.map(_.getLong(1)).sum == total, "token accounting not conserved")
    // a 100-token vocab must explain a nontrivial share of a zipf-ish corpus
    val oovTotal = out.map(_.getLong(2)).sum
    assert(oovTotal < total, "vocab explained nothing")
  }

  test("sequence_pack: token mass conserved, packing arithmetic consistent per bin") {
    val out = PipelineQueries.sequencePack(spark, sf).collect()
    val total = TextQueries.tokenCount(spark, sf)
      .agg(sum(col("ws_tokens"))).collect()(0).getLong(0)
    assert(out.map(_.getLong(3)).sum == total, "packed token mass != corpus tokens")
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2), "more spanning docs than docs")
      assert(r.getLong(1) >= 0)
    }
    // per bin: the highest sequence id is bounded by the bin's token mass
    out.groupBy(_.getLong(0)).foreach { case (bin, rows) =>
      val binTokens = rows.map(_.getLong(3)).sum
      val maxSeq = rows.map(_.getLong(1)).max
      assert(maxSeq <= binTokens / PipelineQueries.SeqLen,
        s"bin $bin: seq id $maxSeq beyond token mass $binTokens")
    }
    // packing must actually pack: multiple docs per sequence on average
    val docs = out.map(_.getLong(2)).sum
    assert(docs > out.length, "sequences average < 1 doc — packing degenerate")
  }

  test("sequence_manifest: agrees with sequence_pack, partitions the corpus exactly once") {
    val manifest = PipelineQueries.sequenceManifest(spark, sf).collect()
    val pack = PipelineQueries.sequencePack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(manifest.length == pack.size, "manifest and accounting disagree on sequences")
    val seen = scala.collection.mutable.Set.empty[Long]
    manifest.foreach { r =>
      val ids = r.getString(3).split(",").map(_.toLong)
      assert(ids.length == r.getLong(2).toInt, "docs list length != n_docs")
      assert(pack((r.getLong(0), r.getLong(1))) == r.getLong(2),
        s"bin ${r.getLong(0)} seq ${r.getLong(1)}: manifest vs accounting doc count")
      ids.foreach(id => assert(seen.add(id), s"doc $id appears in two sequences"))
    }
    val total = graft.Tables(spark, sf).documents.count()
    assert(seen.size == total, "manifest does not partition the corpus")
  }

  test("pretrain_pipeline: equals the composition of dedup keepers + quality gate + packing") {
    val out = PipelineQueries.pretrainPipeline(spark, sf).collect()
    graft.CacheRegistry.releaseAll(spark)
    // recompose the funnel from the standalone stages
    val keepers = CurationQueries.dedupPipeline(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    graft.CacheRegistry.releaseAll(spark)
    val corpus = TextQueries.dupCorpus(spark, sf)
      .withColumn("ws", TextQueries.words(col("text")))
      .withColumn("n_tok", size(col("ws")))
    val Seq(fs, fu, fp, fl) = PipelineQueries.featuresOf(col("text"), col("ws"), col("n_tok"))
    val survivors = corpus
      .withColumn("logit", PipelineQueries.logitOf(fs, fu, fp, fl))
      .filter(col("logit") >= 0.0)
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"))
      .collect().filter(r => keepers(r.getLong(0)))
    assert(survivors.nonEmpty && survivors.length < keepers.size,
      "quality gate must filter the keeper set, not rubber-stamp it")
    assert(out.map(_.getLong(2)).sum == survivors.length, "doc funnel not conserved")
    assert(out.map(_.getLong(3)).sum == survivors.map(_.getLong(1)).sum,
      "token mass not conserved through packing")
    out.foreach(r => assert(r.getLong(4) <= r.getLong(2)))
  }

  test("dedup_incremental: exact re-crawls dropped against base, near-copies survive") {
    val out = TextQueries.dedupIncremental(spark, sf).collect()
    val ids = out.map(_.getLong(0)).toSet
    // the +2e6 batch docs are byte-identical to base docs → anti-joined away
    assert(ids.forall(id => id >= 1000000L && id < 2000000L),
      s"an exact re-crawl survived: ${ids.filter(_ >= 2000000L)}")
    // every +1e6 near-copy differs from base by one token → all survive
    val expected = graft.Tables(spark, sf).documents
      .filter(col("doc_id") % 10 === 0).count()
    assert(out.length == expected, s"${out.length} survivors, expected $expected")
  }

  test("dedup_recall: hit counts bounded, LSH banding beats the tight hamming radius") {
    val out = HashDedup.dedupRecall(spark, sf).collect()
    graft.CacheRegistry.releaseAll(spark)
    assert(out.map(_.getString(0)).toSeq == Seq("minhash", "simhash"))
    out.foreach { r =>
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)), "hits exceed a side")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1.000001)
      assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1.000001)
    }
    val byM = out.map(r => r.getString(0) -> r.getDouble(5)).toMap
    // 3-row minhash bands collide with high probability at J ≥ 3/5, while
    // hamming ≤ 3 of 96 is a much tighter similarity notion — on the
    // injected-dup corpus the banding recall must dominate
    assert(byM("minhash") >= byM("simhash"), s"recall ordering inverted: $byM")
  }

  test("semantic_dedup: injected copies drop, bases survive, join modes agree") {
    val out = VectorQueries.semanticDedup(spark, sf).collect()
    graft.CacheRegistry.releaseAll(spark)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val copies = out.filter(_.getLong(0) >= 1000000)
    assert(copies.nonEmpty)
    copies.foreach { r =>
      val base = byId(r.getLong(0) - 1000000)
      // the ε-perturbed copy lands in its base's k-means cell and is the
      // higher id of a ≥τ pair → dropped; the base (lower id) survives
      assert(r.getLong(1) == base.getLong(1), s"copy ${r.getLong(0)} left its base's cell")
      assert(!r.getBoolean(2), s"copy ${r.getLong(0)} survived")
      assert(base.getBoolean(2), s"base ${base.getLong(0)} dropped")
    }
    // nothing else comes near τ (max natural cosine ≈ 0.51 on this corpus)
    assert(out.count(!_.getBoolean(2)) == copies.length, "a natural pair crossed τ")
    val shuffled = VectorQueries.semanticDedupWith(spark, sf, "shuffle")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    graft.CacheRegistry.releaseAll(spark)
    assert(shuffled == out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet,
      "join mode changed semantic_dedup output")
    intercept[IllegalArgumentException] {
      VectorQueries.semanticDedupWith(spark, sf, "bogus")
    }
  }

  test("lm_score: exact bit-length surprisal, rare tokens score higher, empty docs drop") {
    import spark.implicits._
    // 8 'common' + 1 'rare' + 1 alnum-free doc: N=9 tokens, c(common)=8,
    // c(rare)=1 → bits(common)=len(bin(9/8))=1, bits(rare)=len(bin(9))=4
    val docs = ((0L until 8L).map(i => (i, "common")) ++
      Seq((8L, "rare"), (9L, "!!! ...")))
      .toDF("doc_id", "text")
    val out = PipelineQueries.lmScoreFrom(docs)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    def row(id: Long) = out(id)
    (0L until 8L).foreach { i =>
      assert(row(i) == (1L, 1.0, true), s"common doc $i: ${row(i)}")
    }
    assert(row(8L) == (1L, 4.0, true), s"rare doc: ${row(8L)}")
    // no alphanumeric tokens → no signal → dropped, score 0
    assert(row(9L) == (0L, 0.0, false), s"empty doc: ${row(9L)}")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("corpus_split: clusters never straddle splits; the doc-hash baseline measurably leaks") {
    import spark.implicits._
    val out = PipelineQueries.corpusSplit(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq("test", "train", "valid"))
    val (leakCluster, leakDoc) = (out.head._4, out.head._5)
    assert(leakCluster == 0L,
      s"cluster-keyed split leaked $leakCluster near-dup pairs across boundaries")
    assert(leakDoc > 0L,
      "doc-hash baseline leaked nothing — the corpus exercises no cross-boundary pairs, weakening the zero-leak claim")
    // train must dominate (~90/5/5 expected from the hex thresholds)
    val byName = out.map(r => r._1 -> r._2).toMap
    assert(byName("train") > 5 * (byName("valid") + byName("test")),
      s"split proportions off: $byName")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("doc_embed: exact hashing-trick arithmetic and occurrence linearity") {
    import spark.implicits._
    val out = PipelineQueries.docEmbed(spark, sf)
      .as[(Long, Long, String, Long)].collect()
    assert(out.length == graft.Tables(spark, sf).documents.count())
    // recompute one doc's embedding directly from its tokens in plain Scala
    val doc0 = graft.Tables(spark, sf).documents
      .filter($"doc_id" === 0L).select($"text").as[String].head()
    val toks = doc0.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def vec(t: String): Array[Long] = {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until PipelineQueries.EmbDims).map(j =>
        2L * Integer.parseInt(hex.substring(j, j + 1), 16) - 15L).toArray
    }
    val expect = toks.map(vec).reduce((a, b) => a.zip(b).map(t => t._1 + t._2))
    val row0 = out.find(_._1 == 0L).get
    assert(row0._2 == toks.length)
    assert(row0._3 == expect.mkString(","), s"embedding mismatch: ${row0._3} vs ${expect.mkString(",")}")
    assert(row0._4 == expect.map(e => e * e).sum)
    // embeddings are discriminative: overwhelmingly distinct across docs
    assert(out.map(_._3).distinct.length > out.length * 9 / 10)
    graft.CacheRegistry.releaseAll(spark)
  }

  test("source_drift equals a plain-Scala recomputation; L1 stays in [0, 2e6] ppm") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf).documents
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val byBin = docs.map { case (s, n) => (s, math.min(9L, n / 60)) }
    val global = byBin.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nn = docs.length.toLong
    val expected = byBin.groupBy(_._1).map { case (src, rows) =>
      val n = rows.length.toLong
      val cnt = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val drift = (0L to 9L).map { b =>
        math.abs(cnt.getOrElse(b, 0L) * 1000000 / n - global.getOrElse(b, 0L) * 1000000 / nn)
      }.sum
      src -> ((n, drift))
    }
    val got = PipelineQueries.sourceDrift(spark, sf)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    assert(got.values.forall { case (_, d) => d >= 0 && d <= 2000000 })
    graft.CacheRegistry.releaseAll(spark)
  }

  test("filter_agreement marginals equal each standalone gate's keep count") {
    import spark.implicits._
    val cells = PipelineQueries.filterAgreement(spark, sf)
      .as[(Boolean, Boolean, Boolean, Long)].collect()
    val total = cells.map(_._4).sum
    val nDocs = graft.Tables(spark, sf).documents.count()
    assert(total == nDocs, s"agreement cells cover $total of $nDocs docs")
    val clfKeep = PipelineQueries.qualityClassifier(spark, sf)
      .filter($"keep").count()
    val gopherKeep = CurationQueries.gopherFilter(spark, sf)
      .filter($"keep").count()
    val lmKeep = PipelineQueries.lmScore(spark, sf).filter($"keep").count()
    assert(cells.filter(_._1).map(_._4).sum == clfKeep, "clf marginal drifted from the standalone gate")
    assert(cells.filter(_._2).map(_._4).sum == gopherKeep, "gopher marginal drifted from the standalone gate")
    assert(cells.filter(_._3).map(_._4).sum == lmKeep, "lm marginal drifted from the standalone gate")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("lm_score gate actually filters the real corpus (both verdicts present)") {
    import spark.implicits._
    val keeps = PipelineQueries.lmScore(spark, sf)
      .groupBy($"keep").count().as[(Boolean, Long)].collect().toMap
    assert(keeps.getOrElse(true, 0L) > 0 && keeps.getOrElse(false, 0L) > 0,
      s"lm_score gate is degenerate: $keeps")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("epoch_expand: copy counts recomputed per doc, realized tracks planned within fractional noise") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = PipelineQueries.epochExpand(spark, sf)
      .as[(String, Long, Double, Long, Long, Double)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    val weights = PipelineQueries.mixWeights(spark, sf)
      .select($"source", $"epochs").as[(String, Double)].collect().toMap
    graft.CacheRegistry.releaseAll(spark)
    val docs = graft.Tables(spark, sf).documents
      .select($"source", $"doc_id", size(TextQueries.words($"text")).cast("long").as("n"))
      .as[(String, Long, Long)].collect().toSeq
    def md5hex8(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    val expected = docs.groupBy(_._1).toSeq.map { case (src, rows) =>
      val e = weights(src)
      val whole = math.floor(e).toLong
      val thresh = f"${math.floor((e - math.floor(e)) * 4294967296.0).toLong}%08x"
      val copies = rows.map { case (_, id, n) =>
        (n, whole + (if (md5hex8(id) < thresh) 1L else 0L))
      }
      val nOut = copies.map(_._2).sum
      (src, rows.size.toLong, e, nOut,
        copies.map { case (n, c) => n * c }.sum,
        BigDecimal(nOut.toDouble / rows.size + 1e-9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.filter(_._4 > 0).sortBy(_._1)
    assert(got == expected, "expansion accounting must equal the per-doc recomputation")
    // realized epochs tracks planned within the ±1-copy fractional noise,
    // and the fractional sampler actually fires both ways somewhere
    assert(got.forall { case (_, _, planned, _, _, realized) => math.abs(realized - planned) <= 1.0 })
    val fracDiffer = got.exists { case (src, nd, planned, nOut, _, _) =>
      nOut != math.floor(planned).toLong * nd && nOut != (math.floor(planned).toLong + 1) * nd
    }
    assert(got.nonEmpty && (fracDiffer || got.exists { case (_, nd, planned, nOut, _, _) =>
      nOut != math.floor(planned).toLong * nd }), "fractional sampling never fired")
  }

  test("contract_check ≡ plain-Scala rule recomputation; report mixes green and flagged rules") {
    import spark.implicits._
    val got = PipelineQueries.contractCheck(spark, sf)
      .as[(String, String, Long, Long, Boolean)].collect().toSeq
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect().toSeq
    val evs = graft.Tables(spark, sf).events
      .select($"event_type", $"value", $"ts_ms")
      .as[(String, Double, Long)].collect().toSeq
    val langs = Set("en", "de", "es", "fr", "zh")
    val types = Set("view", "click", "purchase", "signup", "error")
    val expected = (Seq(
      ("documents", "doc_id_unique", docs.size.toLong - docs.map(_._1).distinct.size),
      ("documents", "lang_enum", docs.count(d => !langs(d._3)).toLong),
      ("documents", "source_pattern", docs.count(d => !d._4.matches("src[0-9]+")).toLong),
      ("documents", "text_len_le_256", docs.count(_._2.length > 256).toLong),
      ("documents", "text_nonempty", docs.count(d => d._2 == null || d._2.isEmpty).toLong),
      ("events", "event_type_enum", evs.count(e => !types(e._1)).toLong),
      ("events", "ts_in_window", evs.count(e => e._3 < 1704067200000L || e._3 >= 1706745600000L).toLong),
      ("events", "value_le_250", evs.count(_._2 > 250.0).toLong),
      ("events", "value_positive", evs.count(e => !(e._2 > 0.0)).toLong))
      .map { case (t, r, v) =>
        (t, r, if (t == "documents") docs.size.toLong else evs.size.toLong, v, v == 0L)
      }).sortBy(t => (t._1, t._2))
    assert(got == expected, "contract report must equal the plain-Scala rule recomputation")
    // both branches live: green rules and flagged rules both present
    assert(got.exists(_._5) && got.exists(!_._5),
      s"report is degenerate (all pass or all fail): $got")
  }

  test("rank_correlation ≡ plain-Scala Spearman over the md5 sample; signals genuinely related") {
    import spark.implicits._
    val row = PipelineQueries.rankCorrelation(spark, sf).collect().head
    graft.CacheRegistry.releaseAll(spark)
    val q = TextQueries.qualityScore(spark, sf)
      .select($"doc_id", $"quality").as[(Long, Double)].collect().toMap
    graft.CacheRegistry.releaseAll(spark)
    val l = PipelineQueries.lmScore(spark, sf)
      .select($"doc_id", $"mean_bits").as[(Long, Double)].collect().toMap
    graft.CacheRegistry.releaseAll(spark)
    def md5(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val sample = q.keys.toSeq.filter(l.contains)
      .sortBy(id => (md5(id), id)).take(PipelineQueries.RankSampleK)
    val rankQ = sample.sortBy(id => (-q(id), id)).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val rankL = sample.sortBy(id => (l(id), id)).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val n = sample.size.toLong
    val sumD2 = sample.map(id => { val d = rankQ(id) - rankL(id); d * d }).sum
    val rho = BigDecimal(1.0 - 6.0 * sumD2 / (n * (n * n - 1)) + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((row.getLong(0), row.getLong(1), row.getDouble(2)) == (n, sumD2, rho),
      s"engine (${row.getLong(0)}, ${row.getLong(1)}, ${row.getDouble(2)}) != scala ($n, $sumD2, $rho)")
    // rho in the open interval: the sample is neither degenerate nor a
    // perfect rank copy. Magnitude is SF-dependent and honest: sf0.001's
    // short docs give rho ≈ 0.04 (noise); the sf0.01 gate measures −0.47 —
    // the two filters genuinely DISAGREE there (rare-token-heavy docs score
    // low on surprisal but poorly on the stopword-weighted composite),
    // which is exactly the redundancy answer this scorecard exists to give.
    assert(math.abs(rho) < 1.0 && n == PipelineQueries.RankSampleK.toLong)
  }
}
