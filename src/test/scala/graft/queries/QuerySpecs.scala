package graft.queries

import graft.SparkSpec
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

/** Operator-level behavior specs over the sf0.001 corpus (cross-engine
  * value equality is covered by the DuckDB oracle in Verify; these pin the
  * SEMANTIC contracts). */
class TextQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("dedup_exact finds exactly the injected exact copies") {
    val out = TextQueries.dedupExact(spark, sf).collect()
    assert(out.length == 50) // 500 docs, every 10th (%10=5) re-inserted
    assert(out.forall(_.getLong(2) == 2L))
  }

  test("dedup_ngram_jaccard: every injected noisy copy is found") {
    val pairs = TextQueries.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // originals %10=0 with +1000000 noisy copies must all be candidates
    val expected = (0L until 500L by 10L).map(i => (i, i + 1000000L)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("dedup_ngram_jaccard survives docs shorter than the shingle width") {
    val short = Seq((1L, "one two"), (2L, "one two"), (3L, "a b c d e f g h i j a b c d e f g h i j"))
      .toDF("doc_id", "text")
    // reuse the words/shingle pipeline shape via a direct call on a tiny frame:
    val ws = short.withColumn("ws", TextQueries.words($"text"))
      .withColumn("sh", expr("CASE WHEN size(ws) >= 5 THEN transform(sequence(0, size(ws)-5), i -> ws[i]) ELSE array() END"))
    val sizes = ws.select(size($"sh")).as[Int].collect()
    assert(sizes(0) == 0 && sizes(1) == 0 && sizes(2) == 16)
  }

  test("dedup_incremental: bloom pre-pass prunes the base scan and changes nothing") {
    val anti = TextQueries.dedupIncrementalWith(spark, sf, "anti")
      .as[(Long, String)].collect()
    val bloom = TextQueries.dedupIncrementalWith(spark, sf, "bloom")
      .as[(Long, String)].collect()
    assert(anti.nonEmpty && anti.sameElements(bloom),
      "bloom membership pre-pass must be result-identical to the plain anti-join (no false negatives)")
    // the pre-pass must actually PRUNE: only base rows colliding with a
    // batch hash (true hits + bloom fps) may survive the probe filter
    val base = graft.Tables(spark, sf).documents.select(md5($"text").as("h"))
    val batch = TextQueries.dupCorpus(spark, sf).filter($"doc_id" >= 1000000L).select(md5($"text").as("h"))
    val bf = graft.functions.BloomMembership.buildBloom(batch, $"h", 1L << 16, 8L << 16)
    val survivors = base.filter(graft.functions.BloomMembership.mightContain(bf, $"h")).count()
    val trueHits = base.join(batch, Seq("h"), "left_semi").count()
    assert(survivors < base.count() / 2,
      s"bloom pre-filter kept $survivors of ${base.count()} base rows — no pruning happened")
    assert(survivors >= trueHits, "bloom dropped a true member (false negative!)")
  }

  test("decontaminate: benchmark copies drop, clean docs keep, every non-bench doc gets a verdict") {
    val rows = TextQueries.decontaminate(spark, sf)
      .select("doc_id", "contamination", "keep").as[(Long, Double, Boolean)].collect()
    graft.CacheRegistry.releaseAll(spark)
    val byId = rows.map(r => r._1 -> r).toMap
    // every non-bench corpus doc appears exactly once (zero-hit docs included)
    val corpusIds = TextQueries.dupCorpus(spark, sf)
      .filter(!(($"doc_id" % 50 === 0) && ($"doc_id" < 1000000)))
      .select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet == corpusIds && rows.length == corpusIds.size)
    // near-copies of benchmark docs (base id%50==0, +1e6, one appended
    // token) are ~fully contaminated → dropped (exact +2e6 copies need
    // base%10==5, which never coincides with %50==0)
    val benchCopies = corpusIds.filter(d => d >= 1000000 && d < 2000000 && (d - 1000000) % 50 == 0)
    assert(benchCopies.nonEmpty)
    benchCopies.foreach { d =>
      val (_, c, keep) = byId(d)
      assert(!keep && c > 0.9, s"bench copy $d survived decontamination (c=$c)")
    }
    // the gate must not annihilate: most docs are clean and kept
    assert(rows.count(_._3) > rows.length / 2)
  }

  test("lang_id predicts a language for every doc, priority-deterministic") {
    val out = TextQueries.langId(spark, sf).select("pred_lang").as[String].collect()
    assert(out.forall(l => Set("en", "de", "es", "fr", "zh", "und").contains(l)))
  }

  test("minhash: identical docs share all bands, noisy copies most") {
    val pairs = HashDedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b", "n_bands").as[(Long, Long, Long)].collect()
    val exact = pairs.filter(p => p._2 - p._1 == 2000000L)
    assert(exact.length == 50 && exact.forall(_._3 == HashDedup.Bands))
    val noisy = pairs.filter(p => p._2 - p._1 == 1000000L)
    assert(noisy.length >= 40) // one appended token may break a band occasionally
  }

  test("simhash: exact copies at hamming 0; pairs symmetric-free (a<b)") {
    val out = HashDedup.dedupSimhash(spark, sf)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    val exact = out.filter(p => p._2 - p._1 == 2000000L)
    assert(exact.length == 50 && exact.forall(_._3 == 0))
    assert(out.forall(p => p._1 < p._2))
  }

  test("corpus_overlap ≡ plain-Scala recomputation; full pair coverage; symmetric-free") {
    val rows = PipelineQueries.corpusOverlap(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    // closed-form model: distinct 5-gram sets per source
    val bySource = graft.Tables(spark, sf).documents
      .select("source", "text").as[(String, String)].collect().toSeq
      .groupBy(_._1).view.mapValues { docs =>
        docs.flatMap { case (_, t) =>
          val ws = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
          if (ws.length >= 5) (0 to ws.length - 5).map(i => ws.slice(i, i + 5).mkString(" "))
          else Seq.empty
        }.toSet
      }.toMap
    val srcs = bySource.keys.toSeq.sorted
    val expected = for {
      a <- srcs; b <- srcs if a < b
      ga = bySource(a); gb = bySource(b)
      nc = ga.intersect(gb).size.toLong
    } yield (a, b, ga.size.toLong, gb.size.toLong, nc,
      nc * 1000000L / math.max(ga.size + gb.size - nc, 1))
    assert(rows == expected.sortBy(p => (p._1, p._2)), "overlap must equal the closed-form model")
    // every unordered pair exactly once, zero-overlap pairs included
    assert(rows.size == srcs.size * (srcs.size - 1) / 2)
    assert(rows.forall(r => r._1 < r._2))
  }

  private def corpusTokens: Seq[String] =
    graft.Tables(spark, sf).documents.select("text").as[String].collect().toSeq
      .flatMap(_.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" "))
      .filter(_.nonEmpty)

  test("bpe_pairs ≡ plain-Scala recomputation (weighted overlapping char pairs, top-100)") {
    val vocab = corpusTokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = vocab.toSeq.filter(_._1.length >= 2)
      .flatMap { case (w, n) => (0 until w.length - 1).map(i => w.substring(i, i + 2) -> n) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(100)
    val got = TextQueries.bpePairs(spark, sf)
      .select("pair", "n_pairs").as[(String, Long)].collect().toSeq
    assert(got == expected, "pair mining must equal the closed-form recomputation")
    assert(got.nonEmpty && got.head._2 >= got.last._2)
  }

  test("quota_sample: exact per-language quotas, md5-rank deterministic, bounded-heap plan") {
    val df = TextQueries.quotaSample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKPartial"), s"quota_sample lost the bounded-heap plan:\n$plan")
    val rows = df.as[(String, Int, Long)].collect().toSeq
    // closed-form: rank docs per lang by 48-bit md5(doc_id) prefix, doc_id tiebreak
    val md = java.security.MessageDigest.getInstance("MD5")
    def h48(d: Long): Long = java.lang.Long.parseLong(
      md.digest(d.toString.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
    val expected = graft.Tables(spark, sf).documents
      .select("lang", "doc_id").as[(String, Long)].collect().toSeq
      .groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
        ds.map(_._2).sortBy(d => (h48(d), d)).take(TextQueries.QuotaN)
          .zipWithIndex.map { case (d, i) => (lang, i + 1, d) }
      }.sortBy(r => (r._1, r._2))
    assert(rows == expected, "quota sampling must equal the closed-form md5 ranking")
    val perLang = rows.groupBy(_._1).view.mapValues(_.size)
    val langSizes = expected.groupBy(_._1).view.mapValues(_.size)
    perLang.foreach { case (l, n) => assert(n == langSizes(l) && n <= TextQueries.QuotaN) }
  }

  test("bigram_lm ≡ plain-Scala recomputation; conditional mass per prefix bounded") {
    val rows = TextQueries.bigramLm(spark, sf)
      .as[(String, String, Long, Long)].collect().toSeq
    val docs = graft.Tables(spark, sf).documents.select("text").as[String].collect().toSeq
    val pairs = docs.flatMap { t =>
      val ws = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
      ws.sliding(2).collect { case Array(a, b) => (a, b) }
    }
    val pc = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pre = pc.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val expected = pc.toSeq
      .map { case ((a, b), n) => (a, b, n, n * 1000000L / pre(a)) }
      .sortBy(r => (r._1, r._2))
    assert(rows == expected, "bigram table must equal the closed-form recomputation")
    rows.groupBy(_._1).foreach { case (w1, rs) =>
      val mass = rs.map(_._4).sum
      assert(mass <= 1000000L, s"conditional mass for '$w1' exceeds 1: $mass ppm")
      assert(mass > 1000000L - rs.size, s"floor-div mass for '$w1' leaks: $mass ppm")
    }
  }

  test("keyword_extract: integer tf·idf_bits scores, per-doc ranks contiguous from 1") {
    val rows = TextQueries.keywordExtract(spark, sf)
      .select("doc_id", "rank", "tok", "score").as[(Long, Int, String, Long)].collect()
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (d, rs) =>
      val ranks = rs.map(_._2).sorted
      assert(ranks.toSeq == (1 to rs.length), s"doc $d ranks not contiguous: ${ranks.toSeq}")
      assert(rs.length <= TextQueries.KwK)
      // scores non-increasing in rank, token ASC on equal scores
      val inOrder = rs.sortBy(_._2)
      inOrder.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"doc $d rank order violated: $a then $b")
        case _ => ()
      }
    }
    // spot-recompute one doc against the closed form
    val nDocs = graft.Tables(spark, sf).documents.count()
    val docToks = graft.Tables(spark, sf).documents.filter($"doc_id" === 7L)
      .select("text").as[String].head()
      .toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty).toSeq
    val dfMap = graft.Tables(spark, sf).documents
      .select($"doc_id", explode(TextQueries.words($"text")).as("t")).filter($"t" =!= "")
      .distinct().groupBy("t").count()
      .as[(String, Long)].collect().toMap
    val expect7 = docToks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (t, tf) => (t, tf * java.lang.Long.toBinaryString(nDocs / dfMap(t)).length) }
      .sortBy { case (t, s) => (-s, t) }.take(TextQueries.KwK)
      .zipWithIndex.map { case ((t, s), i) => (7L, i + 1, t, s) }
    assert(byDoc(7L).sortBy(_._2).toSeq == expect7)
  }

  test("bm25_search ≡ plain-Scala recomputation of every query's top-k") {
    val rows = TextQueries.bm25Search(spark, sf)
      .select("q_doc", "rank", "doc_id", "score").as[(Long, Int, Long, Long)].collect()
    graft.CacheRegistry.releaseAll(spark)
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet.forall(_ % TextQueries.QMod == 0) && byQ.nonEmpty)
    // closed-form model: tf per (doc, tok), df from tf, idf = bit length
    val docToks = graft.Tables(spark, sf).documents
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .map { case (d, t) =>
        d -> t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty).toSeq }
    val tf = docToks.flatMap { case (d, ts) => ts.map(d -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dfm = tf.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nDocs = docToks.size.toLong
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    for (q <- byQ.keys) {
      val qToks = docToks.find(_._1 == q).get._2.distinct
      val qTerms = qToks.map(t => (t, tf((q, t)) * bits(nDocs / dfm(t))))
        .sortBy { case (t, s) => (-s, t) }.take(TextQueries.QTerms).map(_._1)
      val expected = docToks.map { case (d, ts) =>
        d -> qTerms.filter(ts.contains).map(t => tf((d, t)) * bits(nDocs / dfm(t))).sum
      }.filter(_._2 > 0L)
        .sortBy { case (d, s) => (-s, d) }.take(TextQueries.SearchK)
        .zipWithIndex.map { case ((d, s), i) => (q, i + 1, d, s) }
      assert(byQ(q).sortBy(_._2).toSeq == expected, s"query $q top-k mismatch")
    }
  }

  test("pmi_pairs ≡ plain-Scala lift ranking over the collected bigram frame") {
    val got = TextQueries.pmiPairs(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    val pc = TextQueries.bigramCounts(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    val cx = pc.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cy = pc.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val n = pc.map(_._3).sum
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = pc.filter(_._3 >= TextQueries.PmiMinCount)
      .map { case (w1, w2, c) =>
        (w1, w2, c, cx(w1), cy(w2), r6((c * n).toDouble / (cx(w1) * cy(w2)).toDouble))
      }
      .sortBy { case (w1, w2, _, _, _, l) => (-l, w1, w2) }
      .take(TextQueries.PmiK)
    assert(got == expected, "lift ranking must equal the plain-Scala recomputation")
    // the support filter does real work: every survivor meets it, and the
    // ranking is not just frequency (top lift pair is not the top count pair)
    assert(got.forall(_._3 >= TextQueries.PmiMinCount))
    assert(got.nonEmpty)
  }

  test("length_quantiles ≡ sort-based plain-Scala quantiles (histogram path is exact)") {
    val got = TextQueries.lengthQuantiles(spark, sf)
      .as[(Int, Int)].collect().toSeq
    // ground truth by actually sorting every doc length
    val lens = graft.Tables(spark, sf).documents
      .select(size(TextQueries.words($"text")).as("n"))
      .as[Int].collect().sorted
    val n = lens.length.toLong
    val expected = TextQueries.QuantilePcts.map { q =>
      // discrete lower quantile: min v with 100·rank(v) ≥ q·N — on the
      // sorted array that is element at index ceil(qN/100) − 1
      val rank = (q * n + 99) / 100 // ceil
      (q, lens(rank.toInt - 1))
    }
    assert(got == expected, s"quantiles diverge from the sorted ground truth")
    // monotone non-decreasing in q
    assert(got.map(_._2).zip(got.map(_._2).tail).forall { case (a, b) => a <= b })
  }

  test("span_corrupt: (input, target) reconstructs the original token stream; mask fraction in band") {
    val rows = TextQueries.spanCorrupt(spark, sf)
      .as[(Long, Int, Int, String, String)].collect().toSeq
    val texts = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, nTok, nMasked, input, target) =>
      val orig = texts(id).toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq
      assert(orig.size == nTok, s"doc $id token count")
      // parse the target into sentinel -> masked-span
      val spans = scala.collection.mutable.Map.empty[String, Vector[String]]
      var cur: String = null
      target.split(" ").filter(_.nonEmpty).foreach { t =>
        if (t.startsWith("<extra_id_")) { cur = t; spans(cur) = Vector.empty }
        else spans(cur) = spans(cur) :+ t
      }
      // T5 convention: sentinel ids are SEQUENTIAL 0..m-1 in target order
      val ids = target.split(" ").filter(_.startsWith("<extra_id_"))
        .map(t => t.stripPrefix("<extra_id_").stripSuffix(">").toInt).toSeq
      assert(ids == ids.indices.toSeq, s"doc $id sentinel ids not sequential: $ids")
      // and the input references the SAME dense id set in the same order
      val inIds = input.split(" ").filter(_.startsWith("<extra_id_"))
        .map(t => t.stripPrefix("<extra_id_").stripSuffix(">").toInt).toSeq
      assert(inIds == ids, s"doc $id input/target sentinel ids diverge")
      // splice each span back at its sentinel: must reproduce the original
      val rebuilt = input.split(" ").filter(_.nonEmpty).toSeq.flatMap { t =>
        if (t.startsWith("<extra_id_")) spans(t) else Seq(t)
      }
      assert(rebuilt == orig, s"doc $id does not reconstruct")
      assert(nMasked > 0 && nMasked < nTok, s"doc $id degenerate mask: $nMasked of $nTok")
    }
    // corpus-level mask rate ≈ 2/7 by construction
    val rate = rows.map(_._3.toLong).sum.toDouble / rows.map(_._2.toLong).sum
    assert(rate > 0.15 && rate < 0.45, s"mask rate out of band: $rate")
  }

  test("bpe_fertility ≡ re-aggregated encode counts; every lang ≥ 1 token/word; langs measurably differ") {
    val got = TextQueries.bpeFertility(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val per = TextQueries.bpeEncode(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val langOf = graft.Tables(spark, sf).documents
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val expected = per.groupBy(p => langOf(p._1)).toSeq.map { case (l, rows) =>
      val w = rows.map(_._2).sum; val t = rows.map(_._3).sum
      (l, rows.size.toLong, w, t, t * 1000000L / w)
    }.sortBy(_._1)
    assert(got == expected, "fertility rollup must equal the re-aggregated encode counts")
    assert(got.forall(_._5 >= 1000000L), "fertility below 1 token/word — encoder broke")
    assert(got.map(_._5).distinct.size > 1, "all langs identical — the measurement is vacuous")
  }

  test("contrastive_triplets: every triplet separates (margin > 0), negatives valid, no pair dropped") {
    val got = TextQueries.contrastiveTriplets(spark, sf)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    val nPairs = TextQueries.dedupNgramJaccard(spark, sf).count()
    graft.CacheRegistry.releaseAll(spark)
    val nDocs = graft.Tables(spark, sf).documents.count()
    assert(got.size.toLong == nPairs, s"${got.size} triplets from $nPairs verified pairs — drops")
    got.foreach { case (a, p, n, pj, nj, m) =>
      // the negative must avoid BOTH the anchor and the verified positive —
      // a negative equal to the near-dup would be a non-separating triplet
      assert(n >= 0 && n < nDocs && n != a && n != p, s"invalid negative $n for ($a, $p)")
      assert(m > 0 && pj > nj, s"non-separating triplet ($a, $p, $n): pos=$pj neg=$nj")
      // the deterministic pick is reproducible in plain Scala (two fix-up steps)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a:neg".getBytes("UTF-8")).take(6)
        .map(b => f"${b & 0xff}%02x").mkString
      val h = java.lang.Long.parseLong(md5, 16)
      val n0 = h % nDocs
      val n1 = if (n0 == a || n0 == p) (n0 + 1) % nDocs else n0
      val n2 = if (n1 == a || n1 == p) (n1 + 1) % nDocs else n1
      assert(n == n2, s"negative pick mismatch for ($a, $p): got $n expected $n2")
    }
  }

  test("source_quantiles ≡ per-source sorted ground truth (grouped histogram path)") {
    val got = TextQueries.sourceQuantiles(spark, sf)
      .as[(String, Int, Int)].collect().toSeq
    val lens = graft.Tables(spark, sf).documents
      .select($"source", size(TextQueries.words($"text")).as("n"))
      .as[(String, Int)].collect().toSeq
    val expected = lens.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      val sorted = rows.map(_._2).sorted
      val n = sorted.length.toLong
      TextQueries.QuantilePcts.map { q =>
        val rank = (q * n + 99) / 100
        (src, q, sorted(rank.toInt - 1))
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == expected, "grouped quantiles diverge from the per-source sorted ground truth")
    // the grouping does real work: sources disagree on at least one pct
    assert(got.groupBy(_._2).exists { case (_, rows) => rows.map(_._3).distinct.size > 1 })
  }
}

class VectorQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("cosine6 is exact on hand-computable vectors") {
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 1f, 0f), Array(1f, 1f, 0f)),
      (Array(3f, 4f, 0f), Array(4f, 3f, 0f))).toDF("a", "b")
      .select(VectorOps.cosine6($"a", $"b").as("c"))
    val out = df.as[Double].collect()
    assert(out(0) == 0.0 && out(1) == 1.0 && out(2) == 0.96)
  }

  test("embed_knn: exact-integer cosine ranking over hashed embeddings, bounded-heap plan") {
    val df = VectorQueries.embedKnn(spark, sf)
    // the custom two-phase top-k must carry this query too (no window sort)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKPartial"), s"embed_knn lost the bounded-heap plan:\n$plan")
    val out = df.as[(Long, Long, Double, Int)].collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length), s"ranks not dense for query $q")
      // scores non-increasing in rank, all within [-1, 1]
      val sorted = rows.sortBy(_._4).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b }, s"scores not sorted for $q")
      assert(sorted.forall(c => c >= -1.0 && c <= 1.0))
      // a query doc never retrieves itself (it is excluded from the corpus side)
      assert(rows.forall(_._2 != q))
    }
    graft.CacheRegistry.releaseAll(spark)
  }

  test("graph_centrality: integer PageRank invariants (base floor, mass bound, discrimination)") {
    val n = graft.Tables(spark, sf).embeddings.count()
    val base = VectorQueries.PrScale / n * 15 / 100
    val ranks = VectorQueries.graphCentrality(spark, sf)
      .as[(Long, Long)].collect()
    assert(ranks.length == n)
    // every node keeps at least the damped teleport base
    assert(ranks.forall(_._2 >= base), "a node fell below the teleport base")
    // dropped dangling mass means total never exceeds the injected scale
    assert(ranks.map(_._2).sum <= VectorQueries.PrScale)
    // centrality discriminates: in-degree hubs rise above the floor
    assert(ranks.count(_._2 > base * 2) > n / 20,
      "centrality degenerate — almost no node above 2x base")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("dedup_embedding finds exactly the injected near-dup pairs") {
    val out = VectorQueries.dedupEmbedding(spark, sf)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(out.length == 25) // 500 vecs, every 20th injected
    assert(out.forall(p => p._2 == p._1 + 1000000L && p._3 >= VectorQueries.NearDupTau))
  }

  test("knn_brute returns k ranked neighbours per query, scores descending") {
    val out = VectorQueries.knnBrute(spark, sf)
      .select("q_id", "rank", "cos").as[(Long, Int, Double)].collect()
    assert(out.length == VectorQueries.NQueries * VectorQueries.K)
    out.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("knn_ivf results are a subset-quality approximation of brute force") {
    val brute = VectorQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = VectorQueries.knnIvf(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    assert(ivf.nonEmpty)
    // probing 2 of ~4 cells: expect meaningful (not perfect) recall
    val recall = ivf.count(brute.contains).toDouble / brute.size
    assert(recall > 0.2, s"IVF recall unexpectedly low: $recall")
  }

  test("knn_index_update: incremental union ≡ full rebuild under the frozen centroids") {
    // per-vector assignment under FIXED centroids is independent, so
    // base-index ∪ batch-assignment must equal one assignment over all —
    // row-for-row, scores and ranks included
    val inc = VectorQueries.knnIndexUpdate(spark, sf)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val full = VectorQueries.knnIndexFullRebuild(spark, sf)
      .select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(inc.nonEmpty && inc == full,
      "incremental index update must be indistinguishable from a full rebuild")
    // and the batch actually contributes: some arrivals reach the top-k
    // (otherwise the equality is vacuous for the incremental path)
    assert(inc.exists(_._2 % 20 == 0),
      "no batch vector in any top-k — corpus split makes the proof vacuous")
  }

  test("pq_quantize: finer geometry reconstructs strictly better — the measured curve moves") {
    val rows = VectorQueries.pqQuantize(spark, sf)
      .select("method", "q_id", "agreement", "max_qerr", "recon_ppm")
      .as[(String, Long, Double, Double, Long)].collect()
    assert(rows.length == VectorQueries.PqMs.size * VectorQueries.NQueries)
    val ppm = rows.map(r => r._1 -> r._5).toMap
    // more subspaces → finer reconstruction; on this corpus the step is
    // large (~0.40 → ~0.51 mean cosine), so strict inequality is safe
    assert(ppm("pq_m4") > ppm("pq_m2"),
      s"reconstruction fidelity must rise with M: $ppm")
    // distortion is measured, bounded, and positive-finite
    assert(rows.forall(r => r._4 >= 0.0 && r._4 <= 2.0))
    graft.CacheRegistry.releaseAll(spark)
  }

  test("embedding_quantize: int8 retrieval agreement measured, distortion bounded") {
    val rows = VectorQueries.embeddingQuantize(spark, sf)
      .select("q_id", "n_hits", "agreement", "max_qerr").as[(Long, Long, Double, Double)].collect()
    assert(rows.length == VectorQueries.NQueries)
    // the number this operator exists to measure: int8 keeps top-K nearly
    // intact (at sf0.001 one query flips a rank-5 near-tie → 4/5; larger
    // SFs measure 1.0 across the board). The spec pins the measured FLOOR
    // — if quantization ever really degrades, these bounds catch it while
    // the driver row shows the exact per-query number.
    rows.foreach { case (q, hits, agr, err) =>
      assert(hits >= VectorQueries.K - 1 && agr >= 0.8, s"q$q: int8 agreement degraded to $agr")
      assert(err > 0 && err < 0.01, s"q$q: quantized-cosine distortion $err outside the expected band")
    }
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 0.95, s"mean int8 agreement $mean below the measured floor")
  }

  test("knn_ivf probe width moves the recall dial; default floor pinned") {
    val brute = VectorQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().count(brute.contains).toDouble / brute.size
    def recallAt(probe: Int): Double = recall(VectorQueries.knnIvfWith(spark, sf, probe))
    // the driver row ≡ the documented Probe constant
    val dflt = recall(VectorQueries.knnIvf(spark, sf))
    val atConst = recallAt(VectorQueries.Probe)
    assert(dflt == atConst, s"default recall $dflt != explicit Probe recall $atConst")
    assert(dflt > 0.2, s"default-probe recall floor broken: $dflt")
    // probe = Centroids probes every cell — exhaustive search, recall must be 1.0
    val exhaustive = recallAt(VectorQueries.Centroids)
    assert(exhaustive == 1.0, s"probe=Centroids must equal brute force, got $exhaustive")
    assert(exhaustive > dflt, "widening the probe must not lower recall")
  }

  test("text_cluster ≡ plain-Scala integer Lloyd iterations (floor-div centroids, id tiebreak)") {
    val got = VectorQueries.textCluster(spark, sf)
      .select("doc_id", "cluster", "dist").as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    graft.CacheRegistry.releaseAll(spark)
    // model: md5-nibble hashed embeddings, exactly doc_embed's definition
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val emb: Map[Long, Array[Long]] = graft.Tables(spark, sf).documents
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.map { case (d, t) =>
        val toks = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
        val v = new Array[Long](PipelineQueries.EmbDims)
        toks.foreach { tok =>
          val h = md5hex(tok)
          for (j <- 0 until PipelineQueries.EmbDims)
            v(j) += 2L * "0123456789abcdef".indexOf(h.charAt(j)) - 15L
        }
        d -> v
      }.toMap
    val withToks = emb.filter { case (d, _) =>
      got.exists(_._1 == d) } // docs with >= 1 token (empty docs excluded upstream)
    def floorDiv(s: Long, n: Long): Long = (s - (((s % n) + n) % n)) / n
    var cent: Map[Long, Array[Long]] =
      (0L until VectorQueries.KmK.toLong).map(c => c -> withToks(c)).toMap
    var assign: Map[Long, (Long, Long)] = Map.empty
    for (i <- 1 to VectorQueries.KmIters) {
      assign = withToks.map { case (d, v) =>
        val scored = cent.toSeq.map { case (c, cv) =>
          (c, v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.sortBy { case (c, dist) => (dist, c) }
        d -> (scored.head._1, scored.head._2)
      }
      if (i < VectorQueries.KmIters)
        cent = assign.groupBy(_._2._1).map { case (c, docs) =>
          val members = docs.keys.map(withToks).toSeq
          val s = new Array[Long](PipelineQueries.EmbDims)
          members.foreach(v => for (j <- s.indices) s(j) += v(j))
          c -> s.map(floorDiv(_, members.size.toLong))
        }
    }
    val expected = assign.toSeq.map { case (d, (c, dist)) => (d, c, dist) }.sortBy(_._1)
    assert(got == expected, "k-means must equal the closed-form integer recomputation")
    // the clustering must do real work: several populated clusters
    assert(got.map(_._2).distinct.size >= 3, s"degenerate clustering: ${got.map(_._2).distinct}")
  }

  test("hybrid_search ≡ plain-Scala RRF over independently recomputed legs") {
    val out = VectorQueries.hybridSearch(spark, sf).collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        if (r.isNullAt(5)) None else Some(r.getInt(5))))
    graft.CacheRegistry.releaseAll(spark)
    // BM25 leg = the standalone №91 operator verbatim (its own oracle covers it)
    val bm = TextQueries.bm25Search(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getLong(2)))
    graft.CacheRegistry.releaseAll(spark)
    // embedding leg recomputed in plain Scala from the collected vectors
    val vecs = PipelineQueries.docEmbedVectors(spark, sf)
      .select("doc_id", "emb_arr", "norm_sq").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    graft.CacheRegistry.releaseAll(spark)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val embRank: Seq[(Long, Long, Int)] =
      vecs.filter(_._1 % TextQueries.QMod == 0).flatMap { case (q, qe, qn) =>
        vecs.map { case (d, de, dn) =>
          val dot = qe.zip(de).map { case (a, b) => a * b }.sum
          (d, r6(dot.toDouble / (math.sqrt(dn.toDouble) * math.sqrt(qn.toDouble))))
        }.sortBy { case (d, c) => (-c, d) }.take(TextQueries.SearchK)
          .zipWithIndex.map { case ((d, _), i) => (q, d, i + 1) }
      }
    val L = VectorQueries.RrfL
    val legs: Seq[((Long, Long), (Long, Option[Int], Option[Int]))] =
      bm.map { case (q, r, d) => ((q, d), (L / (60 + r), Some(r), None: Option[Int])) } ++
        embRank.map { case (q, d, r) => ((q, d), (L / (60 + r), None: Option[Int], Some(r))) }
    val expected = legs.groupBy(_._1).toSeq
      .map { case ((q, d), vs) =>
        (q, d, vs.map(_._2._1).sum, vs.flatMap(_._2._2).headOption, vs.flatMap(_._2._3).headOption)
      }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, d, c, _, _) => (-c, d) }.take(VectorQueries.FuseK)
          .zipWithIndex.map { case ((_, d, c, br, er), i) => (q, i + 1, d, c, br, er) }
      }.sortBy(t => (t._1, t._2))
    assert(out.sortBy(t => (t._1, t._2)) == expected,
      "fused ranking must equal the closed-form RRF recomputation")
    // the fusion does real work: some fused row carries BOTH leg ranks,
    // and every query retrieves itself (the self anchor survives fusion)
    assert(out.exists(r => r._5.isDefined && r._6.isDefined))
    assert(out.groupBy(_._1).forall { case (q, rows) => rows.exists(_._3 == q) })
  }

  test("hybrid_search: RRF reciprocals are exact integers (L divisible by every base+rank)") {
    (1 to TextQueries.SearchK).foreach { r =>
      assert(VectorQueries.RrfL % (VectorQueries.RrfBase + r) == 0L,
        s"RrfL not divisible by ${VectorQueries.RrfBase + r}")
    }
    (1 to TextQueries.SearchK).foreach { r =>
      assert(VectorQueries.MrrL % r == 0L, s"MrrL not divisible by $r")
    }
  }

  test("retrieval_eval ≡ plain-Scala scorecard; fusion measurably beats lexical-only") {
    val got = VectorQueries.retrievalEval(spark, sf)
      .as[(String, Long, Double, Double)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    val gold = VectorQueries.embRanked(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    graft.CacheRegistry.releaseAll(spark)
    val bm = TextQueries.bm25Search(spark, sf)
      .select("q_doc", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSeq
    graft.CacheRegistry.releaseAll(spark)
    val hy = VectorQueries.hybridSearch(spark, sf)
      .select("q_doc", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSeq
    graft.CacheRegistry.releaseAll(spark)
    val goldByQ = gold.groupBy(_._1)
    val qs = goldByQ.keySet.toSeq.sorted
    def score(name: String, sys: Seq[(Long, Long, Long)]): (String, Long, Double, Double) = {
      val byQ = sys.groupBy(_._1)
      val L = VectorQueries.MrrL
      var sumOv = 0L; var sumRr = 0L
      qs.foreach { q =>
        val g = goldByQ(q).map(_._2).toSet
        val s = byQ.getOrElse(q, Seq.empty)
        sumOv += s.count(r => g(r._2))
        val g1 = goldByQ(q).filter(_._2 != q).minBy(_._3)._2
        sumRr += s.find(_._2 == g1).map(r => L / r._3).getOrElse(0L)
      }
      def r6(x: Double) = BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (name, qs.size.toLong,
        r6(sumOv.toDouble / (qs.size * TextQueries.SearchK)),
        r6(sumRr.toDouble / (qs.size * L)))
    }
    val expected = Seq(score("bm25", bm), score("hybrid", hy)).sortBy(_._1)
    assert(got == expected, "scorecard must equal the plain-Scala recomputation")
    // fusion does real measurable work on this corpus
    val Seq(b, h) = got
    assert(h._3 > b._3 && h._4 > b._4,
      s"hybrid does not beat bm25 on semantic recall: $got")
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("chunk ids: batch bytes stay near the target, ids contiguous from 0") {
    // batch ids number per (keyspace partition, topic) — the reference's
    // one-writer-per-(topic, scan-partition) numbering
    val out = ExportQueries.chunkBatch(spark, sf)
      .select("plabel", "topic", "batch", "batch_bytes").as[(String, String, Long, Long)].collect()
    out.groupBy(r => (r._1, r._2)).foreach { case (_, batches) =>
      val ids = batches.map(_._3).sorted
      assert(ids.head == 0 && ids.last == ids.length - 1) // contiguous
      // all but the final batch of a (partition, topic) hold ≥ the byte target
      batches.sortBy(_._3).dropRight(1).foreach(b =>
        assert(b._4 >= graft.kv.KvModel.ChunkMaxBytes - 2000))
    }
  }

  test("export pipeline: every valid row yields a record and manifest line") {
    val recs = ExportQueries.exportRecords(spark, sf).collect()
    assert(recs.length == 989) // 1000 events - 11 mandatory-failures (eid%97)
    recs.foreach { r =>
      val line = r.getAs[String]("manifest_line")
      assert(line.split("\\|", -1).length >= 8)
      assert(r.getAs[String]("record").startsWith("{"))
    }
  }

  test("jsonl snapshot sink: write + decrypt read-back roundtrip counts") {
    val back = graft.sources.JsonlSnapshotSink.snapshotQuery(spark, sf)
    assert(back.count() == 989L)
  }
}
