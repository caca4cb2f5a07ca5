package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** №107/№108 — BPE train/encode against a plain-Scala reference
  * implementation of the classic algorithm (sequential left-to-right
  * merge scan), plus direct pins of the doubled-delimiter replace trick's
  * overlap semantics. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Reference BPE: weighted vocab → K rounds of (count pairs, merge the
    * argmax left-to-right). Returns the merge table and the final
    * per-word symbol states. */
  private def refBpe(vocab: Map[String, Long], k: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    var states: Map[String, Seq[String]] = vocab.keys.map(w => w -> w.map(_.toString)).toMap
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to k) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- states; Seq(a, b) <- syms.sliding(2) if syms.size >= 2)
        pc((a, b)) = pc.getOrElse((a, b), 0L) + vocab(w)
      val ((a, b), n) = pc.toSeq.minBy { case ((x, y), c) => (-c, s"$x $y") }
      merges += ((step, s"$a $b", a + b, n))
      states = states.map { case (w, syms) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
          else { out += syms(i); i += 1 }
        }
        w -> out.result()
      }
    }
    (merges.result(), states)
  }

  private def corpusWords: Seq[String] =
    graft.Tables(spark, sf).documents.select("text").as[String].collect().toSeq
      .flatMap(_.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" "))
      .filter(_.nonEmpty)

  test("bpe_train ≡ reference sequential BPE (merge table, all rounds)") {
    val vocab = corpusWords.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (expected, _) = refBpe(vocab, TextQueries.BpeMerges)
    val got = TextQueries.bpeTrain(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == expected, "learned merges must equal the reference algorithm's")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("bpe_train local mode ≡ distributed loop (merge table, all rounds)") {
    // the production loop (collect the bounded vocab, train driver-side)
    // must learn the IDENTICAL model — counts, argmax tie-breaks, merge
    // application, every round
    val dist = TextQueries.bpeTrainWith(spark, sf, "distributed")
      .as[(Int, String, String, Long)].collect().toSeq
    val local = TextQueries.bpeTrainWith(spark, sf, "local")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(local == dist, "local-mode merges must equal the distributed loop's")
    graft.CacheRegistry.releaseAll(spark)
  }

  test("bpe_encode ≡ reference tokenization (per-doc subword counts)") {
    val vocab = corpusWords.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (_, states) = refBpe(vocab, TextQueries.BpeMerges)
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val expected = docs.map { case (id, text) =>
      val ws = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
      (id, ws.length.toLong, ws.map(w => states(w).size.toLong).sum)
    }.sortBy(_._1)
    val got = TextQueries.bpeEncode(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected, "encoded token counts must equal the reference tokenization")
    // merging can only shorten: token count strictly below char count once
    // any merge applies, never above
    val chars = docs.map { case (id, text) =>
      id -> text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ")
        .filter(_.nonEmpty).map(_.length.toLong).sum
    }.toMap
    got.foreach { case (id, _, tok) => assert(tok <= chars(id)) }
    graft.CacheRegistry.releaseAll(spark)
  }

  test("merge application: doubled-delimiter replace ≡ sequential left-to-right scan") {
    // the two shapes plain single-space replace gets WRONG: back-to-back
    // sites sharing a delimiter, and self-overlapping runs
    val cases = Seq(
      ("a b a b", "a", "b", "ab ab"),
      ("a a a", "a", "a", "aa a"),
      ("a a a a", "a", "a", "aa aa"),
      ("x a b y", "a", "b", "x ab y"),
      ("a b", "b", "a", "a b"),
      ("c", "a", "b", "c"))
    cases.foreach { case (st, a, b, want) =>
      val out = Seq(st).toDF("state")
        .select(TextQueries.bpeApplyMerge($"state", a, b).as("r")).as[String].head()
      assert(out == want, s"merge($a,$b) on '$st': got '$out', want '$want'")
    }
  }

  test("tokenize_pack conserves bpe_encode's token count and packs contiguously") {
    import org.apache.spark.sql.functions.sum
    val enc = TextQueries.bpeEncode(spark, sf)
    val encTotal = enc.agg(sum($"bpe_tokens")).as[Long].head()
    val packed = PipelineQueries.tokenizePack(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(packed.map(_._4).sum == encTotal,
      "packing must conserve the encoded token total exactly")
    // per-bin sequence ids start at 0 and stay inside the bin's token
    // budget; holes are legitimate (a doc longer than SeqLen absorbs whole
    // sequences no other doc STARTS in — the accounting groups by start
    // sequence, as sequence_pack does)
    packed.groupBy(_._1).foreach { case (bin, rows) =>
      val ids = rows.map(_._2).sorted
      val total = rows.map(_._4).sum
      assert(ids.head == 0L && ids.distinct == ids, s"bin $bin seq_ids malformed: $ids")
      assert(ids.last <= (total - 1) / PipelineQueries.SeqLen, s"bin $bin seq_id beyond budget")
    }
    // spanning counts: a doc marked spanning crosses at least one boundary,
    // so every sequence holds at most n_docs spanning docs
    packed.foreach { case (_, _, nDocs, _, nSpan) => assert(nSpan <= nDocs) }
    graft.CacheRegistry.releaseAll(spark)
  }

  test("first learned merge agrees with bpe_pairs' top pair") {
    val topPair = TextQueries.bpePairs(spark, sf)
      .select($"pair").as[String].head()
    val firstMerge = TextQueries.bpeTrain(spark, sf)
      .filter($"step" === 1).select($"merged").as[String].head()
    assert(firstMerge == topPair,
      "round 1 of training must merge exactly the pair bpe_pairs ranks first")
    graft.CacheRegistry.releaseAll(spark)
  }
}
