package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators over `documents` (SURVEY §2 №21,24,28-31).
  *
  * Single source of truth for tokenization/markers lives here as constants so
  * the Spark plan and the DuckDB oracle can't drift. md5() is the only
  * cross-engine hash primitive (identical hex output both engines).
  *
  * Scale notes: everything below is a scan + narrow per-row transform except
  * the dedup joins, which shuffle on high-cardinality keys (md5 / n-gram) —
  * even distribution, no skew, no O(n^2) all-pairs anywhere.
  */
object TextQueries {

  /** Normalized word array: lowercase, non-alphanumerics → space, split. */
  def words(c: Column): Column =
    split(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")), " ")
  /** Same normalization as a DuckDB SQL fragment. */
  def wordsSql(c: String): String =
    s"string_split(trim(regexp_replace(lower($c), '[^a-z0-9]+', ' ', 'g')), ' ')"

  /** ONE definition of the ingest normalization chain (NFC → lower →
    * control chars → space → collapse runs → trim), shared by
    * `text_normalize` and `corpus_curate` so the composed pipeline can
    * never de-sync from the standalone operator. */
  private[queries] def normExpr(c: Column): Column =
    trim(regexp_replace(regexp_replace(
      lower(graft.functions.NfcNormalize.nfcNormalize(c)),
      "[\\x00-\\x1f\\x7f]", " "), " +", " "))
  private[queries] def normSql(c: String): String =
    s"""trim(regexp_replace(regexp_replace(lower(nfc_normalize($c)),
       |    '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'))""".stripMargin

  /** Per-language sampling threshold, shared by `stratified_sample` and
    * `corpus_curate` (see [[SampleThresholds]]). */
  private[queries] def langThreshold: Column =
    SampleThresholds.foldRight(lit(SampleDefaultThreshold)) {
      case ((l, t), acc) => when(col("lang") === l, t).otherwise(acc)
    }
  private[queries] def langThresholdSql: String = {
    val cases = SampleThresholds.map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }.mkString(" ")
    s"CASE $cases ELSE '$SampleDefaultThreshold' END"
  }

  // Language marker words (tiny deterministic language-ID heuristic).
  val langs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "nicht"),
    "es" -> Seq("el", "los", "y", "que", "se", "por", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "zh" -> Seq("de0", "shi4", "zai4", "le0", "he2", "you3", "wo3"))

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

  /** BPE-ish token regex: letter runs, single digits, single punctuation. */
  val bpeRegex = "[a-z]+|[0-9]|[^a-z0-9\\s]"

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  // ---------------------------------------------------------------- №30 token_count
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents.select(
      $"doc_id",
      size(words($"text")).as("ws_tokens"),
      size(regexp_extract_all(lower($"text"), lit(bpeRegex), lit(0))).as("bpe_tokens"),
      length($"text").as("chars"))
      .orderBy($"doc_id")
  }

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  len(${wordsSql("text")}) AS ws_tokens,
       |  len(regexp_extract_all(lower(text), '$bpeRegex')) AS bpe_tokens,
       |  length(text) AS chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №28 lang_id
  /** Marker-word scoring; deterministic argmax with fixed priority order
    * (the declaration order of `langs`), 'und' when all scores are zero.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables(spark, dir).documents
      .withColumn("ws", words($"text"))
      .select($"doc_id" +: $"lang".as("actual_lang") +:
        langs.map { case (l, ms) =>
          size(filter(col("ws"), w => w.isin(ms.map(lit(_)): _*))).as(s"s_$l")
        }: _*)
    val pred = langs.foldRight(lit("und"): Column) { case ((l, _), acc) =>
      // priority order: first lang whose score is >= all others and > 0
      when(col(s"s_$l") > 0 && langs.map { case (o, _) => col(s"s_$l") >= col(s"s_$o") }.reduce(_ && _), lit(l)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred).orderBy($"doc_id")
  }

  val langIdSql: String = {
    val scoreCols = langs.map { case (l, ms) =>
      s"len(list_filter(${wordsSql("text")}, w -> w IN (${inList(ms)}))) AS s_$l"
    }.mkString(",\n  ")
    val pred = langs.foldRight("'und'") { case ((l, _), acc) =>
      val ge = langs.map { case (o, _) => s"s_$l >= s_$o" }.mkString(" AND ")
      s"CASE WHEN s_$l > 0 AND $ge THEN '$l' ELSE $acc END"
    }
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS actual_lang,
       |  $scoreCols
       |  FROM documents)
       |SELECT doc_id, actual_lang, ${langs.map { case (l, _) => s"s_$l" }.mkString(", ")},
       |  $pred AS pred_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №29 quality_score
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("ws", words($"text"))
      .withColumn("n_tok", size($"ws"))
      .withColumn("n_uniq", size(array_distinct($"ws")))
      .withColumn("n_punct", length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")))
      .withColumn("n_stop", size(filter($"ws", w => w.isin(stopwords.map(lit(_)): _*))))
      .select($"doc_id", $"n_tok", $"n_uniq", $"n_punct", $"n_stop",
        round($"n_stop".cast("double") / $"n_tok" + 1e-9, 6).as("stop_ratio"),
        round($"n_uniq".cast("double") / $"n_tok" + 1e-9, 6).as("uniq_ratio"),
        round(
          least(lit(1.0), length($"text").cast("double") / 500.0) * 0.25
            + (lit(1.0) - least(lit(1.0), $"n_punct".cast("double") / greatest($"n_tok", lit(1)))) * 0.25
            + least(lit(1.0), $"n_stop".cast("double") * 4.0 / $"n_tok") * 0.25
            + ($"n_uniq".cast("double") / $"n_tok") * 0.25 + 1e-9, 6).as("quality"))
      .orderBy($"doc_id")
  }

  val qualityScoreSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, ${wordsSql("text")} AS ws FROM documents),
       |m AS (
       |  SELECT doc_id, text, len(ws) AS n_tok, len(list_distinct(ws)) AS n_uniq,
       |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
       |    len(list_filter(ws, w -> w IN (${inList(stopwords)}))) AS n_stop
       |  FROM d)
       |SELECT doc_id, n_tok, n_uniq, n_punct, n_stop,
       |  round(CAST(n_stop AS DOUBLE)/n_tok + 0.000000001, 6) AS stop_ratio,
       |  round(CAST(n_uniq AS DOUBLE)/n_tok + 0.000000001, 6) AS uniq_ratio,
       |  round(least(1.0, CAST(length(text) AS DOUBLE)/500.0)*0.25
       |    + (1.0 - least(1.0, CAST(n_punct AS DOUBLE)/greatest(n_tok,1)))*0.25
       |    + least(1.0, CAST(n_stop AS DOUBLE)*4.0/n_tok)*0.25
       |    + (CAST(n_uniq AS DOUBLE)/n_tok)*0.25 + 0.000000001, 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №31 doc_fingerprint
  /** Winnowing-lite: min-of-3-word-shingle-md5 fingerprint + shingle count.
    * Spark SQL arrays are 0-indexed, DuckDB's 1-indexed — both fragments
    * below address the same shingles.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("ws", words($"text"))
      .withColumn("sh", expr("CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])) ELSE array() END"))
      .select($"doc_id",
        array_min(transform($"sh", s => md5(s))).as("fingerprint"),
        size(array_distinct($"sh")).as("n_shingles"))
      .orderBy($"doc_id")
  }

  val docFingerprintSql: String =
    s"""WITH d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
       |s AS (SELECT doc_id,
       |  list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
       |  FROM d)
       |SELECT doc_id, list_min(list_transform(sh, x -> md5(x))) AS fingerprint,
       |  len(list_distinct(sh)) AS n_shingles
       |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №66 dedup_incremental
  /** Incremental corpus maintenance — dedup a NEW batch against the
    * historical corpus (the daily-crawl case; the corpus-side twin of the
    * export side's `incremental_export`): exact-dedup WITHIN the batch
    * (min-id per content hash), then anti-join the survivors against the
    * base corpus's content hashes. The dup-injected ids ≥ 10⁶ play the
    * "new day": byte-identical re-crawls (the +2·10⁶ copies) are dropped
    * by the anti-join, near-copies (+10⁶, one appended token) survive
    * exact hashing — chain the near-dup operators for those.
    *
    * Scale shape: both stages key on md5 (uniform 128-bit) — one hash agg
    * within the (small) batch, one shuffle anti-join whose BIG side is the
    * base corpus. For a DAILY run against a 100 TB base, pre-bucket the
    * base by content hash (the [[graft.sources.Bucketing]] layout: the
    * anti-join then reads co-located buckets with no base reshuffle) or
    * run mode="bloom": a [[graft.functions.BloomMembership]] sketch of the
    * BATCH keys pre-filters the base SCAN, so the base is read once but
    * never shuffled — only ~|batch| + false-positive base rows enter the
    * join exchange. Bloom false positives cannot change the answer (rows
    * the sketch drops are provably absent from the batch, so they could
    * never anti-match); the mode-equality spec pins result identity. The
    * batch side is always the small one and never broadcast-forces the
    * base. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalWith(spark, dir, mode = "anti")

  /** Proof-scale sketch budget for mode="bloom" (production sizes these to
    * the daily batch's cardinality: n items, ~10 bits/item → ~1% fp). */
  private val BloomItems = 1L << 16
  private val BloomBits = 8L * BloomItems

  /** [[dedupIncremental]] with the base-side pre-pass mode explicit:
    * "anti" = plain shuffle anti-join (the proof-scale default),
    * "bloom" = bloom-membership pre-filter on the base scan, then the same
    * anti-join over the pruned side. */
  def dedupIncrementalWith(spark: SparkSession, dir: String, mode: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir).documents.select(md5($"text").as("h"))
    val batch = dupCorpus(spark, dir).filter($"doc_id" >= 1000000L)
      .select($"doc_id", md5($"text").as("h"))
    val batchDedup = batch.groupBy($"h").agg(min($"doc_id").as("doc_id"))
    val baseSide = mode match {
      case "anti" => base
      case "bloom" =>
        val bf = graft.functions.BloomMembership.buildBloom(
          batch.select($"h"), $"h", BloomItems, BloomBits)
        base.filter(graft.functions.BloomMembership.mightContain(bf, $"h"))
      case other => throw new IllegalArgumentException(s"dedup_incremental mode: $other")
    }
    batchDedup
      .join(baseSide, Seq("h"), "left_anti")
      .select($"doc_id", $"h")
      .orderBy($"doc_id")
  }

  // lazy: declared above dupCorpusSql in the file — a strict val would
  // splice null at object-init time
  lazy val dedupIncrementalSql: String =
    s"""WITH $dupCorpusSql,
       |batch AS (
       |  SELECT md5(text) AS h, min(doc_id) AS doc_id
       |  FROM corpus WHERE doc_id >= 1000000 GROUP BY md5(text))
       |SELECT doc_id, h FROM batch
       |WHERE h NOT IN (SELECT md5(text) FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- dup-injected corpus
  /** documents ∪ noisy copies of every 10th doc (id+1000000, one appended
    * token) — a corpus with KNOWN near/exact dups, constructed identically by
    * both engines, so dedup operators return non-trivial results.
    */
  def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir).documents.select($"doc_id", $"text")
    val copies = d.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), concat($"text", lit(" zz9")).as("text"))
    val exact = d.filter($"doc_id" % 10 === 5)
      .select(($"doc_id" + 2000000).as("doc_id"), $"text")
    d.unionAll(copies).unionAll(exact)
  }

  val dupCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz9' FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 5)""".stripMargin

  /** Tokenized dup corpus (doc_id, ws) — the SHARED upstream of the three
    * pair-finders (ngram-Jaccard truth, minhash, simhash). Callers persist
    * it (via CacheRegistry) so (a) the regex word-split runs once per doc
    * TOTAL across however many finders consume it — dedup_recall runs all
    * three — and (b) the HOF shingle lambdas that index `ws` read a
    * materialization boundary, not a projection alias CollapseProject
    * would inline (the r5 dedup_substring lesson, SURVEY §9: inlining
    * re-runs the split chain once per lambda element). */
  private[graft] def dupCorpusTok(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Spread BEFORE the regex word-split (guide §2.5): the single-file
    // corpus scan yields 3 partitions (one per union branch), and every
    // downstream shingle/minhash/simhash derivation — the dedup family's
    // dominant compute — would inherit that width. The shuffle moves the
    // narrow (doc_id, text) rows once; the split and everything after run
    // cluster-wide.
    graft.Spread.spread(dupCorpus(spark, dir)).select($"doc_id", words($"text").as("ws"))
  }

  // ---------------------------------------------------------------- №21 dedup_exact
  /** Exact dedup: hash-groupBy on md5(text). Single shuffle on a uniform
    * 128-bit key; keeper = min id. At 100 TB: partial agg does most of the
    * work map-side only for the count — min(id) keeps it one pass.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dupCorpus(spark, dir)
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .filter($"n_copies" > 1)
      .orderBy($"text_hash")
  }

  val dedupExactSql: String =
    s"""WITH $dupCorpusSql
       |SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_copies
       |FROM corpus GROUP BY md5(text) HAVING count(*) > 1 ORDER BY text_hash""".stripMargin

  // ---------------------------------------------------------------- №24 dedup_ngram_jaccard
  /** n-gram Jaccard near-dup with PREFIX FILTERING (PPJoin-style): for
    * Jaccard >= τ=3/5, two sets must share a gram within their first
    * ⌊(1−τ)n⌋+1 grams under a global total order (lexicographic). Candidates
    * come from a self-join on prefix grams only — orders of magnitude fewer
    * pairs than a full inverted-index join on a low-cardinality vocabulary —
    * then verified EXACTLY via array_intersect, with the threshold as
    * integer cross-multiplication (no FP ambiguity): J >= 3/5 ⇔ 5c >= 3(u).
    * The DuckDB oracle deliberately uses the naive inverted-index
    * formulation — two independent constructions must agree.
    */
  /** Conf'd prefix-gram document-frequency cap for №24's PPJoin-style
    * candidate join (0 = off, the oracle-matched default) — the n-gram
    * twin of [[HashDedup.BucketCapConfKey]]: a boilerplate 5-gram shared
    * by b docs' PREFIXES yields b·(b−1)/2 candidate pairs on its own, so
    * one template cluster turns the prefix join quadratic. With the cap
    * on, grams whose prefix document-frequency exceeds the cap are
    * excluded from candidate GENERATION (the standard stop-gram drop —
    * pairs whose only prefix overlap is boilerplate are no longer found;
    * a recall trade the caller opts into, accounted by the harness,
    * never silent). Verification of surviving candidates is UNCHANGED
    * (full shingle sets, exact jaccard). */
  val GramCapConfKey = "spark.graft.ppjoin.gramCap"
  private def gramCapOf(spark: SparkSession): Int =
    spark.conf.get(GramCapConfKey, "0").toInt

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupNgramJaccardFrom(graft.CacheRegistry.track(dupCorpusTok(spark, dir).persist()))

  /** The 5-gram shingle-set expression over a `ws` column — ONE
    * definition shared by №24 and №138 contrastive_triplets. Guard
    * size(ws)>=5: Spark's sequence(0, n) with n<0 DESCENDS — short docs
    * must yield an empty shingle set (as DuckDB's range() does). */
  private[queries] val ShingleCase: String =
    "CASE WHEN size(ws) >= 5 THEN array_sort(array_distinct(transform(sequence(0, size(ws)-5), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])))) ELSE array() END"

  /** Body over a PERSISTED (doc_id, ws) frame — shared with
    * [[HashDedup.dedupRecall]], which tokenizes once for all three
    * finders. */
  private[graft] def dedupNgramJaccardFrom(tok: DataFrame): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    // Persisted: this frame is consumed three times (prefix explode + two
    // join-backs). Without persist, CollapseProject inlines the whole
    // shingling chain into every consumer and the regex/sort/distinct work
    // runs ~10x per row. At cluster scale this is the classic
    // "cache the normalized corpus before a multi-consumer DAG" pattern.
    val c = shingleFrameOf(tok)
    verifyPairsOf(c, ppjoinCandidatesOf(c)).orderBy($"doc_a", $"doc_b")
  }

  /** The persisted 5-gram shingle frame (doc_id, sh, n_sh, pfx) behind
    * №24 — persisted because it feeds a multi-consumer DAG (prefix
    * explode + two verification join-backs); without the
    * materialization boundary CollapseProject inlines the whole
    * shingling chain into every consumer and the regex/sort/distinct
    * work runs ~10x per row. Callers build it ONCE and share. */
  private[graft] def shingleFrameOf(tok: DataFrame): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    graft.CacheRegistry.track(tok
      .withColumn("sh", expr(ShingleCase))
      .withColumn("n_sh", size($"sh"))
      // prefix length for τ=3/5: n − ⌈3n/5⌉ + 1  (= ⌊2n/5⌋+1)
      .withColumn("pfx", expr("slice(sh, 1, greatest(n_sh - CAST((3*n_sh + 4) DIV 5 AS INT) + 1, 0))"))
      .select($"doc_id", $"sh", $"n_sh", $"pfx")
      .persist())
  }

  /** №24's PPJoin prefix-filter candidate generation over the shingle
    * frame — one of the two selectable pair-finding modes of
    * [[CurationQueries.dedupPipeline]] (the other is №173's banded
    * multiprobe, [[HashDedup.mpCandidatesFrom]]). */
  private[queries] def ppjoinCandidatesOf(c: DataFrame): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val allPrefixGrams = c.select($"doc_id", explode($"pfx").as("gram"))
    // conf'd stop-gram drop (see GramCapConfKey): the df agg shuffles on
    // the same gram key the candidate join hashes on
    val cap = gramCapOf(spark)
    val prefixGrams =
      if (cap <= 0) allPrefixGrams
      else allPrefixGrams.withColumn("df",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"gram")))
        .filter($"df" <= cap).drop("df")
    prefixGrams.as("a").join(prefixGrams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** EXACT verification of an arbitrary (doc_a, doc_b) candidate frame
    * against the 5-gram shingle sets — integer cross-multiplied τ=3/5,
    * identical whatever generated the candidates (the mode contract:
    * pair-finding modes differ only in candidate GENERATION; every
    * surviving pair passes the same exact test). */
  private[graft] def verifyPairsOf(c: DataFrame, candidates: DataFrame): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    candidates
      .join(c.select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"n_sh".as("n_a")), "doc_a")
      .join(c.select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"n_sh".as("n_b")), "doc_b")
      .withColumn("common", size(array_intersect($"sh_a", $"sh_b")))
      .filter($"common" * 5 >= ($"n_a" + $"n_b" - $"common") * 3)
      .select($"doc_a", $"doc_b", $"common", $"n_a", $"n_b",
        round($"common".cast("double") / ($"n_a" + $"n_b" - $"common") + 1e-9, 6).as("jaccard"))
  }

  /** №24's CTE chain up to the verified-pairs frame `vp` (and the shingle
    * sets `s`) — shared with №138 contrastive_triplets. */
  private[queries] val ngramJaccardCtesSql: String =
    s"""$dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |s AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(ws)-3), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM d),
       |g AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS gram FROM s),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |vp AS (
       |  SELECT doc_a, doc_b, common, n_a, n_b,
       |    round(CAST(common AS DOUBLE)/(n_a + n_b - common) + 0.000000001, 6) AS jaccard
       |  FROM p WHERE common * 5 >= (n_a + n_b - common) * 3)""".stripMargin

  val dedupNgramJaccardSql: String =
    s"""WITH $ngramJaccardCtesSql
       |SELECT doc_a, doc_b, common, n_a, n_b, jaccard FROM vp
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- №138 contrastive_triplets
  /** (anchor, positive, negative) TRIPLETS for contrastive embedding
    * training (the SimCSE/E5-class hard-pair mining prep): positives are
    * №24's VERIFIED near-dup pairs (the operator's own output — mining
    * cannot drift from dedup), negatives are deterministic md5-derived
    * picks from the base corpus (12-hex-nibble integer mod N; two
    * +1-mod-N fix-up steps so the pick avoids BOTH the anchor and the
    * positive — two steps are sufficient because only two values are
    * forbidden, so at most two consecutive ids can be blocked), and BOTH sides'
    * similarity is MEASURED into the row: pos_jaccard from the verified
    * pair, neg_jaccard recomputed over the same [[ShingleCase]] shingle
    * sets, margin = their 6dp difference — the triplet quality a
    * training run depends on, shipped per row instead of assumed.
    *
    * Scale shape: pair frame is the №24 output (near-dup-bounded, never
    * corpus²); the negative jaccard joins are triplet-bounded against
    * the persisted shingle frame; single-row N broadcast.
    *
    * PRECONDITION (dense ids): the `h % n_docs` pick assumes doc_ids are
    * dense 0..n_docs-1 (true of the generator's documents table). A sparse
    * id space would make the inner join against the shingle frame silently
    * drop the triplet — if reusing over non-dense ids, first
    * `zipWithIndex`-style re-key the corpus. */
  def contrastiveTriplets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = graft.CacheRegistry.track(dupCorpusTok(spark, dir).persist())
    val pairs = dedupNgramJaccardFrom(tok)
      .select($"doc_a".as("anchor"), $"doc_b".as("positive"), $"jaccard".as("pos_jaccard"))
    val sh = graft.CacheRegistry.track(tok
      .withColumn("sh", expr(ShingleCase))
      .select($"doc_id", $"sh", size($"sh").as("n_sh")).persist())
    val n = Tables(spark, dir).documents.agg(count(lit(1)).as("n_docs"))
    val withNeg = pairs.crossJoin(broadcast(n))
      .withColumn("h",
        expr("CAST(conv(substring(md5(concat(CAST(anchor AS STRING), ':neg')), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("neg0", $"h" % $"n_docs")
      // two fix-up steps: avoid the anchor AND the positive (a negative equal
      // to the verified near-dup would be a non-separating triplet)
      .withColumn("neg1",
        when($"neg0" === $"anchor" || $"neg0" === $"positive", ($"neg0" + 1) % $"n_docs")
          .otherwise($"neg0"))
      .withColumn("negative",
        when($"neg1" === $"anchor" || $"neg1" === $"positive", ($"neg1" + 1) % $"n_docs")
          .otherwise($"neg1"))
    withNeg
      .join(sh.select($"doc_id".as("anchor"), $"sh".as("sh_a"), $"n_sh".as("n_a")), "anchor")
      .join(sh.select($"doc_id".as("negative"), $"sh".as("sh_n"), $"n_sh".as("n_n")), "negative")
      .withColumn("common", size(array_intersect($"sh_a", $"sh_n")))
      .select($"anchor", $"positive", $"negative", $"pos_jaccard",
        round($"common".cast("double") / ($"n_a" + $"n_n" - $"common") + lit(1e-9), 6).as("neg_jaccard"))
      .withColumn("margin", round($"pos_jaccard" - $"neg_jaccard" + lit(1e-9), 6))
      .orderBy($"anchor", $"positive")
  }

  val contrastiveTripletsSql: String =
    s"""WITH $ngramJaccardCtesSql,
       |ct_n AS (SELECT count(*) AS n_docs FROM documents),
       |ct_p AS (
       |  SELECT doc_a AS anchor, doc_b AS positive, jaccard AS pos_jaccard FROM vp),
       |ct_h AS (
       |  SELECT anchor, positive, pos_jaccard,
       |    CAST(list_sum(list_transform(range(0, 12), j ->
       |      (strpos('0123456789abcdef', substr(md5(anchor || ':neg'), CAST(j + 1 AS INT), 1)) - 1)
       |        * (CAST(1 AS BIGINT) << CAST(4 * (11 - j) AS INT)))) AS BIGINT) AS h,
       |    n_docs
       |  FROM ct_p CROSS JOIN ct_n),
       |ct_w0 AS (
       |  SELECT anchor, positive, pos_jaccard,
       |    CASE WHEN h % n_docs IN (anchor, positive)
       |         THEN (h % n_docs + 1) % n_docs ELSE h % n_docs END AS neg1, n_docs
       |  FROM ct_h),
       |ct_w AS (
       |  SELECT anchor, positive, pos_jaccard,
       |    CASE WHEN neg1 IN (anchor, positive)
       |         THEN (neg1 + 1) % n_docs ELSE neg1 END AS negative
       |  FROM ct_w0),
       |ct_s AS (SELECT doc_id, sh, len(sh) AS n_sh FROM s)
       |SELECT w.anchor, w.positive, w.negative, w.pos_jaccard,
       |  round(CAST(len(list_intersect(a.sh, n.sh)) AS DOUBLE)
       |        / (a.n_sh + n.n_sh - len(list_intersect(a.sh, n.sh))) + 0.000000001, 6) AS neg_jaccard,
       |  round(w.pos_jaccard
       |        - round(CAST(len(list_intersect(a.sh, n.sh)) AS DOUBLE)
       |                / (a.n_sh + n.n_sh - len(list_intersect(a.sh, n.sh))) + 0.000000001, 6)
       |        + 0.000000001, 6) AS margin
       |FROM ct_w w
       |JOIN ct_s a ON a.doc_id = w.anchor
       |JOIN ct_s n ON n.doc_id = w.negative
       |ORDER BY anchor, positive""".stripMargin
  // ---------------------------------------------------------------- №40 dedup_cluster
  /** Duplicate CLUSTERING — the step a training-data pipeline runs after
    * pair-finding: connected components over the verified near-dup pairs
    * ([[dedupNgramJaccard]]), labeling every duplicate doc with its
    * component's minimum doc_id and flagging the canonical keeper. Spark
    * shape: iterative min-label propagation — each round is ONE shuffle
    * join (labels ⋈ self-looped symmetric edges) + a map-side-partial min
    * aggregation, converging in O(component diameter) rounds (dedup
    * graphs are stars/cliques around a canonical doc — measured at sf0.1
    * they converge in ONE effective round + one confirming round, which
    * is why the large-star/small-star O(log n) variant stays a note: there
    * is no round count to cut). The driver-side loop holds only a running
    * label-sum per round — the labels stay distributed; lineage is cut by
    * persisting each round's frame and releasing the previous one.
    *
    * r7 floor fix (the r6 regression root cause): `sym = edges ∪
    * edges.swap` re-evaluated the whole pair-finding subtree once per
    * union branch (and the loop's change-detection left-join added a
    * second join per round). The symmetric+self-loop edge set is now ONE
    * explode pass over the pair frame, and the self-loops make the round
    * a single join + min agg (a node's own label rides the self edge, so
    * no join-back against the previous labels is needed; duplicate self
    * rows are absorbed by min). sf0.1 local: 3.7→2.6s.
    *
    * The DuckDB oracle is deliberately a DIFFERENT algorithm: a recursive
    * transitive-closure CTE with min aggregation — two independent
    * formulations must agree on every component.
    */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterLabels(spark, dir)
      .select($"doc_id", $"label".as("cluster"), ($"doc_id" === $"label").as("keep"))
      .orderBy($"cluster", $"doc_id")
  }

  /** The converged (doc_id, label) frame behind [[dedupCluster]] — unordered
    * and still distributed (persisted + tracked), for composition into the
    * end-to-end [[CurationQueries.dedupPipeline]] without re-sorting. Covers
    * only docs that appear in a verified near-dup pair. */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterLabelsFrom(spark, dedupNgramJaccard(spark, dir).select($"doc_a", $"doc_b"))
  }

  /** Label-propagation body over an already-built (doc_a, doc_b) edge
    * frame — callers that also consume the edges directly (corpus_split's
    * leakage audit) persist it once and share. */
  private[graft] def clusterLabelsFrom(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    // iteration frames are component-count-sized (hundreds of rows), not
    // corpus-sized: run the loop at a narrow shuffle width — 32 partitions
    // of ~10 rows each just pays scheduler overhead per round. Production
    // sizes this to |dup pairs|, which is orders below the corpus.
    val loopWidth = 8
    // Symmetric + SELF-LOOP edges in ONE pass over the pair frame (a union
    // of two selects would evaluate the whole pair-finding subtree once per
    // branch — the r6 floor regression). Self-loops carry a node's own
    // label through the round's join, so the update is one join + one min
    // agg with no join-back; a node appearing in k pairs contributes k
    // duplicate self rows, which the min aggregation absorbs. sym is
    // hash-partitioned on the probe key `m` at the LOOP width once, at
    // build time — every round's sym⋈labels join reuses that partitioning
    // instead of re-exchanging the (scale-dominant) edge set per round;
    // only the label frame shuffles inside the loop.
    val sym = graft.CacheRegistry.track(
      edges.select(explode(array(
          struct($"doc_a".as("n"), $"doc_b".as("m")),
          struct($"doc_b".as("n"), $"doc_a".as("m")),
          struct($"doc_a".as("n"), $"doc_a".as("m")),
          struct($"doc_b".as("n"), $"doc_b".as("m")))).as("e"))
        .select($"e.n".as("n"), $"e.m".as("m"))
        .repartition(loopWidth, $"m")
        .persist())
    var cached = sym.select($"n".as("doc_id")).distinct()
      .withColumn("label", $"doc_id").persist()
    // Convergence detection: labels only ever DECREASE, so the label sum
    // strictly decreases iff any label changed — one mergeable agg per
    // round instead of a change-flag join-back. decimal(38,0) cannot
    // overflow below 10^19 rows of 64-bit ids. This single action also
    // materializes the corpus-scale pair-finding (shingle self-join) at
    // the session's NORMAL shuffle width before narrowing: persist() is
    // lazy, so without it the heaviest stage would run at iteration width.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum($"label".cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var prevSum = labelSum(cached)
    var rounds = 0
    var converged = prevSum == null // empty edge set: nothing to propagate
    // the rounds plan on a child session at the loop width: a join plans
    // in its left side's session, so sym is rebased onto it once
    val loopSym = graft.GraftSession.rebase(graft.GraftSession.scoped(spark, loopWidth), sym)
    while (!converged && rounds < 50) {
      val next = loopSym.join(cached.select($"doc_id".as("m"), $"label".as("ml")), "m")
        .groupBy($"n".as("doc_id")).agg(min($"ml").as("label"))
        .persist()
      val s = labelSum(next)
      cached.unpersist()
      cached = next
      rounds += 1
      converged = s.compareTo(prevSum) == 0
      prevSum = s
    }
    require(converged, s"label propagation did not converge in $rounds rounds")
    // back on the caller's session: its consumers plan at its width, and
    // its releaseAll reaches the last round's cache
    graft.CacheRegistry.track(graft.GraftSession.rebase(spark, cached))
  }

  /** The transitive-closure CTE chain shared by [[dedupClusterSql]] and
    * [[CurationQueries.dedupPipelineSql]]: corpus → shingles → verified
    * near-dup edges → recursive reachability. Callers prepend
    * `WITH RECURSIVE` and aggregate `reach`.
    * NB: no line may BEGIN with `||` — spliced into other stripMargins. */
  val clusterCteSql: String =
    s"""$dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |s AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(ws)-3), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM d),
       |g AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS gram FROM s),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |e AS (SELECT doc_a, doc_b FROM p WHERE common * 5 >= (n_a + n_b - common) * 3),
       |nodes AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b FROM e) u),
       |sym AS (SELECT doc_a AS s, doc_b AS d FROM e UNION ALL SELECT doc_b, doc_a FROM e),
       |reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.doc_id = sym.d)""".stripMargin

  val dedupClusterSql: String =
    s"""WITH RECURSIVE $clusterCteSql
       |SELECT doc_id, min(r) AS cluster, doc_id = min(r) AS keep
       |FROM reach GROUP BY doc_id ORDER BY cluster, doc_id""".stripMargin

  // ---------------------------------------------------------------- №156 curriculum_order
  /** CURRICULUM staging — the quality-ordered training schedule prep
    * (easy/clean-first curricula feed highest-quality data early):
    * documents bin into four stages by the EXACT quality quartiles of the
    * corpus itself (the №124 histogram-quantile formulation over №29's
    * 6dp quality score — min value with 100·cum ≥ p·N, never a corpus
    * sort), stage = how many quartile thresholds the doc's quality
    * strictly exceeds (ties resolve DOWN in both engines — boundary docs
    * land deterministically), and the stage manifest reports the budget a
    * scheduler consumes: docs, tokens, and the exact quality envelope per
    * stage.
    *
    * Scale shape: №29's per-row projection feeds a value-domain histogram
    * (≤ one row per distinct 6dp score), a single-partition cumulative
    * window over that bounded domain, a 1-row threshold broadcast, and a
    * 4-key rollup — bounded at every step however big the corpus. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = graft.CacheRegistry.track(qualityScore(spark, dir)
      .select($"doc_id", $"n_tok", $"quality").persist())
    val hist = q.groupBy($"quality").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy($"quality")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum($"cnt").over(w))
      .crossJoin(broadcast(hist.agg(sum($"cnt").as("n_docs"))))
    val thr = cum.agg(
      min(when(lit(100) * $"cum" >= lit(25) * $"n_docs", $"quality")).as("q25"),
      min(when(lit(100) * $"cum" >= lit(50) * $"n_docs", $"quality")).as("q50"),
      min(when(lit(100) * $"cum" >= lit(75) * $"n_docs", $"quality")).as("q75"))
    q.crossJoin(broadcast(thr))
      .withColumn("stage",
        (($"quality" > $"q25").cast("int") + ($"quality" > $"q50").cast("int")
          + ($"quality" > $"q75").cast("int")).cast("long"))
      .groupBy($"stage")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"quality").as("q_lo"), max($"quality").as("q_hi"))
      .orderBy($"stage")
  }

  val curriculumOrderSql: String =
    s"""WITH co_d AS (
       |  SELECT doc_id, text, ${wordsSql("text")} AS ws FROM documents),
       |co_m AS (
       |  SELECT doc_id, len(ws) AS n_tok, len(list_distinct(ws)) AS n_uniq,
       |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
       |    len(list_filter(ws, w -> w IN (${inList(stopwords)}))) AS n_stop,
       |    length(text) AS n_chars
       |  FROM co_d),
       |co_q AS (
       |  SELECT doc_id, n_tok,
       |    round(least(1.0, CAST(n_chars AS DOUBLE)/500.0)*0.25
       |      + (1.0 - least(1.0, CAST(n_punct AS DOUBLE)/greatest(n_tok,1)))*0.25
       |      + least(1.0, CAST(n_stop AS DOUBLE)*4.0/n_tok)*0.25
       |      + (CAST(n_uniq AS DOUBLE)/n_tok)*0.25 + 0.000000001, 6) AS quality
       |  FROM co_m),
       |co_h AS (SELECT quality, count(*) AS cnt FROM co_q GROUP BY quality),
       |co_n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_docs FROM co_h),
       |co_c AS (
       |  SELECT quality, CAST(sum(cnt) OVER (ORDER BY quality) AS BIGINT) AS cum FROM co_h),
       |co_t AS (
       |  SELECT
       |    min(CASE WHEN 100*cum >= 25*n_docs THEN quality END) AS q25,
       |    min(CASE WHEN 100*cum >= 50*n_docs THEN quality END) AS q50,
       |    min(CASE WHEN 100*cum >= 75*n_docs THEN quality END) AS q75
       |  FROM co_c CROSS JOIN co_n)
       |SELECT CAST(CAST((quality > q25) AS INT) + CAST((quality > q50) AS INT)
       |    + CAST((quality > q75) AS INT) AS BIGINT) AS stage,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(quality) AS q_lo, max(quality) AS q_hi
       |FROM co_q CROSS JOIN co_t
       |GROUP BY 1 ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- №151 dedup_survivorship
  /** SURVIVORSHIP policy over the №40 duplicate clusters — the selection
    * step a real dedup run performs after clustering: instead of №40's
    * structural min-id keeper, keep the RICHEST member of each cluster
    * (n_uniq DESC, n_tok DESC, doc_id ASC — "most distinct content wins",
    * the master-data-management longest/most-complete-record rule, in
    * exact integer form so no float tie can fork engines). On this corpus
    * BOTH policy branches are live by construction: the near-dup copies
    * append a token (strictly richer ⇒ the COPY survives — a different
    * answer than min-id, spec-pinned), the exact copies tie on both
    * metrics (doc_id decides — the min-id fallback).
    *
    * Scale shape: cluster labels come from №40's converged propagation
    * (edge-bounded, never corpus²); metrics ride the SAME persisted
    * tokenization ([[dupCorpusTok]]); the ranking window partitions by
    * cluster — dedup components are star/clique-sized, so each partition
    * sorts a handful of rows, parallel across clusters. Output is
    * cluster-member-bounded. */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = graft.CacheRegistry.track(dupCorpusTok(spark, dir).persist())
    val labels = clusterLabelsFrom(spark, dedupNgramJaccardFrom(tok).select($"doc_a", $"doc_b"))
    val metrics = tok.select($"doc_id",
      size($"ws").as("n_tok"), size(array_distinct($"ws")).as("n_uniq"))
    labels.join(metrics, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"label").orderBy($"n_uniq".desc, $"n_tok".desc, $"doc_id")))
      .select($"doc_id", $"label".as("cluster"), $"n_tok", $"n_uniq", ($"rk" === 1).as("keep"))
      .orderBy($"cluster", $"doc_id")
  }

  val dedupSurvivorshipSql: String =
    s"""WITH RECURSIVE $clusterCteSql,
       |sv_l AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |sv_m AS (
       |  SELECT doc_id, CAST(len(ws) AS INT) AS n_tok,
       |    CAST(len(list_distinct(ws)) AS INT) AS n_uniq
       |  FROM d),
       |sv_r AS (
       |  SELECT l.doc_id, l.cluster, m.n_tok, m.n_uniq,
       |    row_number() OVER (PARTITION BY l.cluster
       |      ORDER BY m.n_uniq DESC, m.n_tok DESC, l.doc_id) AS rk
       |  FROM sv_l l JOIN sv_m m USING (doc_id))
       |SELECT doc_id, cluster, n_tok, n_uniq, rk = 1 AS keep
       |FROM sv_r ORDER BY cluster, doc_id""".stripMargin

  // ---------------------------------------------------------------- №41 text_normalize
  /** Text normalization for ingest: Unicode NFC (native [[graft.functions
    * .NfcNormalize]] expression — Spark has no built-in; mirrors DuckDB's
    * nfc_normalize), lowercase, control chars → space, whitespace-run
    * collapse, trim. Pure per-row projection, scan-bound at any scale.
    * The synthetic corpus is ASCII (NFC = identity here); the non-ASCII
    * semantics are pinned by TextNormalizeSpec with composed/decomposed
    * literals. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"doc_id", normExpr($"text").as("norm_text"), length($"text").as("n_raw"))
      .withColumn("n_norm", length($"norm_text"))
      .orderBy($"doc_id")
  }

  val textNormalizeSql: String =
    s"""SELECT doc_id,
       |  ${normSql("text")} AS norm_text,
       |  length(text) AS n_raw,
       |  length(${normSql("text")}) AS n_norm
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №42 stratified_sample
  /** Deterministic stratified sampling — corpus mixing with per-language
    * rates. Keep iff the first 4 hex chars of md5(doc_id) are
    * lexicographically below the stratum's threshold: hex-string compare ≡
    * 16-bit numeric compare, bit-identical in any engine, reproducible
    * run-to-run (the property a training pipeline needs for ablations).
    * Narrow scan-bound filter; no shuffle. Rates: en 1/2 ('8000'),
    * de 1/4 ('4000'), rest ≈1/10 ('1999'). */
  val SampleThresholds: Seq[(String, String)] = Seq("en" -> "8000", "de" -> "4000")
  val SampleDefaultThreshold: String = "1999"

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thr = langThreshold
    Tables(spark, dir).documents
      .withColumn("bucket", substring(md5($"doc_id".cast("string")), 1, 4))
      .filter($"bucket" < thr)
      .select($"doc_id", $"lang", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < $langThresholdSql
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №43 token_histogram
  /** Global token frequencies, top-100 — the vocabulary-building head (BPE
    * base vocab, stopword discovery). Shape at scale: explode → ONE hash
    * aggregation with map-side partial combine (token cardinality ≪ corpus
    * size, so partials collapse hard), then TakeOrdered top-N — never a
    * global sort of the vocabulary. Deterministic tiebreak (count DESC,
    * token ASC). */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(explode(words($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(100)
  }

  val tokenHistogramSql: String =
    s"""SELECT token, count(*) AS n
       |FROM (SELECT unnest(${wordsSql("text")}) AS token FROM documents) t
       |WHERE length(token) > 0
       |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- №44 contamination_check
  /** Benchmark decontamination — the eval-leak check every training
    * pipeline runs: flag corpus docs sharing 5-gram shingles with a
    * benchmark set (here: every 50th original doc — copies of those docs in
    * the dup corpus are near-fully contaminated by construction, natural
    * near-dups partially). Shape at scale: the benchmark gram set is small
    * (eval suites are thousands of docs, not billions) → DISTINCT then
    * BROADCAST; the corpus side is one explode + broadcast-hash semi-ish
    * join + per-doc count — no shuffle of corpus grams. */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: two consumers (benchmark grams + corpus side) — without
    // it the regex/shingle chain re-runs per consumer (41s -> ~2s at sf0.1)
    val c = graft.CacheRegistry.track(dupCorpus(spark, dir)
      .withColumn("ws", words($"text"))
      .withColumn("sh", expr("CASE WHEN size(ws) >= 5 THEN array_distinct(transform(sequence(0, size(ws)-5), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) ELSE array() END"))
      .withColumn("n_sh", size($"sh"))
      .select($"doc_id", $"sh", $"n_sh")
      .persist())
    val isBench = ($"doc_id" % 50 === 0) && ($"doc_id" < 1000000)
    val benchGrams = c.filter(isBench).select(explode($"sh").as("gram")).distinct()
    c.filter(!isBench && $"n_sh" > 0)
      .select($"doc_id", $"n_sh", explode($"sh").as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy($"doc_id", $"n_sh")
      .agg(count(lit(1)).as("n_hit"))
      .select($"doc_id", $"n_sh", $"n_hit",
        round($"n_hit".cast("double") / $"n_sh" + 1e-9, 6).as("contamination"))
      .orderBy($"doc_id")
  }

  val contaminationCheckSql: String =
    s"""WITH $dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |s AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(ws)-3), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM d),
       |bench AS (
       |  SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 50 = 0 AND doc_id < 1000000),
       |g AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS gram FROM s
       |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000) AND len(sh) > 0)
       |SELECT g.doc_id, g.n_sh, count(*) AS n_hit,
       |  round(CAST(count(*) AS DOUBLE) / g.n_sh + 0.000000001, 6) AS contamination
       |FROM g JOIN bench USING (gram)
       |GROUP BY g.doc_id, g.n_sh ORDER BY g.doc_id""".stripMargin


  // ---------------------------------------------------------------- №74 decontaminate
  /** Benchmark decontamination APPLIED — the step a pipeline actually
    * runs after [[contaminationCheck]] measures: EVERY non-benchmark doc
    * gets a verdict (zero-hit docs included, unlike the check's hits-only
    * accounting), keep = rounded contamination < [[DecontamTau]]. The
    * injected copies of benchmark docs land at contamination ≈ 1.0 and
    * drop; unrelated docs keep. Same fixed-size eval-gram broadcast as
    * №44 (eval suites do not grow with the corpus); the only additions
    * are one bounded hash agg and a left join back to the corpus — scan +
    * two small shuffles at any scale. Both engines compare the SAME
    * 6dp-rounded value against τ, so threshold ties cannot drift. */
  val DecontamTau = 0.05

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = graft.CacheRegistry.track(dupCorpus(spark, dir)
      .withColumn("ws", words($"text"))
      .withColumn("sh", expr("CASE WHEN size(ws) >= 5 THEN array_distinct(transform(sequence(0, size(ws)-5), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) ELSE array() END"))
      .withColumn("n_sh", size($"sh"))
      .select($"doc_id", $"sh", $"n_sh")
      .persist())
    val isBench = ($"doc_id" % 50 === 0) && ($"doc_id" < 1000000)
    val benchGrams = c.filter(isBench).select(explode($"sh").as("gram")).distinct()
    val hits = c.filter(!isBench && $"n_sh" > 0)
      .select($"doc_id", explode($"sh").as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    c.filter(!isBench)
      .select($"doc_id", $"n_sh")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_sh", coalesce($"n_hit", lit(0L)).as("n_hit"),
        round(coalesce($"n_hit", lit(0L)).cast("double") / greatest($"n_sh", lit(1)) + 1e-9, 6).as("contamination"))
      .withColumn("keep", $"contamination" < DecontamTau)
      .orderBy($"doc_id")
  }

  val decontaminateSql: String =
    s"""WITH $dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |s AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(ws)-3), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM d),
       |bench AS (
       |  SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 50 = 0 AND doc_id < 1000000),
       |g AS (
       |  SELECT doc_id, unnest(sh) AS gram FROM s
       |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000) AND len(sh) > 0),
       |h AS (
       |  SELECT doc_id, count(*) AS n_hit FROM g JOIN bench USING (gram) GROUP BY doc_id),
       |a AS (
       |  SELECT doc_id, len(sh) AS n_sh FROM s
       |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000))
       |SELECT a.doc_id, a.n_sh, coalesce(h.n_hit, 0) AS n_hit,
       |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / greatest(a.n_sh, 1) + 0.000000001, 6) AS contamination,
       |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / greatest(a.n_sh, 1) + 0.000000001, 6) < $DecontamTau AS keep
       |FROM a LEFT JOIN h USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------- №45 corpus_curate
  /** The curation pipeline composed END-TO-END — the LLM-side twin of
    * `export_records`: NFC/case/whitespace normalization → exact dedup on
    * the NORMALIZED text (normalization first is the point: case and
    * whitespace variants collapse into dup groups the raw-text dedup
    * misses), keeper = min doc_id → deterministic per-language stratified
    * sample → token accounting. Scale shape: one narrow projection, one
    * hash shuffle on md5(norm) with map-side min_by partials, then narrow
    * filters — a 100 TB curation run is scan + ONE shuffle. */
  def corpusCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thr = langThreshold
    Tables(spark, dir).documents
      .select($"doc_id", $"lang", normExpr($"text").as("norm"))
      .groupBy(md5($"norm").as("text_hash"))
      .agg(min_by(struct($"doc_id", $"lang", $"norm"), $"doc_id").as("r"),
        count(lit(1)).as("n_variants"))
      .select($"r.doc_id".as("doc_id"), $"r.lang".as("lang"), $"r.norm".as("norm"), $"n_variants")
      .withColumn("bucket", substring(md5($"doc_id".cast("string")), 1, 4))
      .filter($"bucket" < thr)
      .select($"doc_id", $"lang", $"n_variants",
        size(words($"norm")).as("n_tokens"), $"bucket")
      .orderBy($"doc_id")
  }

  val corpusCurateSql: String = {
    s"""WITH n AS (
       |  SELECT doc_id, lang, ${normSql("text")} AS norm FROM documents),
       |k AS (
       |  SELECT min(doc_id) AS doc_id, count(*) AS n_variants
       |  FROM n GROUP BY md5(norm))
       |SELECT n.doc_id, n.lang, k.n_variants,
       |  len(${wordsSql("n.norm")}) AS n_tokens,
       |  substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 4) AS bucket
       |FROM n JOIN k USING (doc_id)
       |WHERE substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 4) < $langThresholdSql
       |ORDER BY n.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №89 bpe_pairs
  /** Tokenizer-training pair counting — the first BPE merge step (Sennrich
    * et al. 2016): frequency of every adjacent CHARACTER pair across the
    * corpus, each word's pairs weighted by the word's corpus count. The
    * highest-count pair is the pair a BPE trainer would merge first.
    *
    * Scale shape — the reason BPE training is feasible at 100 TB: the
    * corpus collapses to its VOCABULARY first (one token-explode hash agg
    * with map-side partials; vocab cardinality ≪ corpus size), and pair
    * mining then runs over DISTINCT words only, weighted by count — the
    * pair scan is vocab-bounded no matter how large the corpus. Adjacent
    * pairs are 2-char substrings (`substring(w, i, 2)` — identical
    * 1-based semantics in both engines), overlapping occurrences counted
    * as BPE does ("aaa" → "aa" twice). Top-100 via TakeOrdered with the
    * token_histogram tiebreak (count DESC, pair ASC) — never a global
    * sort of the pair table. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(explode(words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .filter(length($"tok") >= 2)
      .select($"n", explode(expr(
        "transform(sequence(1, length(tok)-1), i -> substring(tok, i, 2))")).as("pair"))
      .groupBy($"pair").agg(sum($"n").as("n_pairs"))
      .orderBy($"n_pairs".desc, $"pair")
      .limit(100)
  }

  val bpePairsSql: String =
    s"""WITH t AS (SELECT unnest(${wordsSql("text")}) AS tok FROM documents),
       |v AS (SELECT tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY tok),
       |p AS (
       |  SELECT unnest(list_transform(range(1, length(tok)),
       |    i -> substr(tok, CAST(i AS INT), 2))) AS pair, n
       |  FROM v WHERE length(tok) >= 2)
       |SELECT pair, CAST(sum(n) AS BIGINT) AS n_pairs
       |FROM p GROUP BY pair ORDER BY n_pairs DESC, pair LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- №96 quota_sample
  /** Fixed-QUOTA deterministic sampling per stratum — the curation twin
    * of stratified_sample when the contract is "exactly N docs per
    * language" (eval-set carving, per-domain caps) rather than a rate:
    * rank docs inside each language by the 48-bit integer value of their
    * md5(doc_id) prefix (engine-independent, run-reproducible,
    * decorrelated from doc order) and keep the first [[QuotaN]].
    *
    * Scale shape: ranking via the №51 GroupedTopK physical operator —
    * bounded per-partition heaps emit ≤N rows per (language, partition)
    * into ONE hash exchange on the language, where a window row_number
    * would shuffle and sort the whole corpus. Score is the NEGATED hash
    * (the heap keeps the largest scores; 48 bits is exact in the
    * operator's double heap layout), doc_id tiebreak. */
  val QuotaN = 20

  def quotaSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables(spark, dir).documents.select($"lang", $"doc_id",
      (-conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
        .cast("double")).as("nscore"))
    graft.plans.GroupedTopK.rankedTopK(scored, "lang", "nscore", "doc_id", QuotaN)
      .select($"lang", $"rank", $"doc_id")
      .orderBy($"lang", $"rank")
  }

  /** 48-bit hex-prefix parse, nibble by nibble (DuckDB has no conv()). */
  private def hex48Sql(c: String): String =
    s"CAST(list_sum(list_transform(range(1, 13), i -> " +
      s"CAST(strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), i, 1)) - 1 AS BIGINT)" +
      s" << (4 * (12 - i)))) AS BIGINT)"

  val quotaSampleSql: String =
    s"""WITH r AS (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY ${hex48Sql("doc_id")} ASC, doc_id ASC) AS INTEGER) AS rank
       |  FROM documents)
       |SELECT lang, rank, doc_id FROM r WHERE rank <= $QuotaN
       |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- №97 bigram_lm
  /** Conditional bigram LM build — the n-gram model the lm_score idea
    * extends to (CCNet trains Kneser-Ney LMs; this is the count
    * backbone): every adjacent word pair's corpus count plus the
    * conditional P(w2|w1) in EXACT integer ppm, with the denominator
    * the PREFIX count (occurrences of w1 that have a successor) derived
    * from the pair aggregation itself — Σ cond_ppm per w1 ≤ 10⁶ by
    * construction, no second corpus pass.
    *
    * Scale shape: one pair-explode → ONE (w1, w2) hash agg with
    * map-side partials (output vocab²-bounded, not corpus-bounded); the
    * prefix totals are a vocab-bounded re-agg of the pair frame joined
    * back equi-key (vocabulary grows with the corpus — never
    * force-broadcast). */
  /** Shared adjacent-bigram count frame (w1, w2, n_pair) — №97 bigram_lm
    * and №125 pmi_pairs both consume THIS fragment (and its CTE twin
    * [[bigramCtesSql]]), so the bigram definition can never de-sync. */
  private[queries] def bigramCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(words($"text").as("ws"))
      .filter(size($"ws") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("p"))
      .select($"p.w1", $"p.w2")
      .filter($"w1" =!= "" && $"w2" =!= "")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_pair"))
  }

  /** Same frame as DuckDB CTEs, ending in `pc(w1, w2, n_pair)`. */
  private[queries] val bigramCtesSql: String =
    s"""d AS (SELECT ${wordsSql("text")} AS ws FROM documents),
       |p AS (
       |  SELECT unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i+1])) AS pr
       |  FROM d WHERE len(ws) >= 2),
       |pc AS (
       |  SELECT split_part(pr, ' ', 1) AS w1, split_part(pr, ' ', 2) AS w2,
       |    count(*) AS n_pair
       |  FROM p
       |  WHERE split_part(pr, ' ', 1) <> '' AND split_part(pr, ' ', 2) <> ''
       |  GROUP BY 1, 2)""".stripMargin

  /** Overflow bound (r11 audit): cond_ppm multiplies one bigram's count
    * by 10⁶ — wraps only past 9.2·10¹² occurrences of a single bigram,
    * i.e. a bigram owning ~37% of a 2.5·10¹³-token corpus; the most
    * frequent English bigram carries ~1%. Headroom stands at 100 TB. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = bigramCounts(spark, dir)
    val prefix = pairs.groupBy($"w1").agg(sum($"n_pair").as("c1"))
    pairs.join(prefix, "w1")
      .select($"w1", $"w2", $"n_pair",
        expr("n_pair * 1000000 DIV c1").as("cond_ppm"))
      .orderBy($"w1", $"w2")
  }

  val bigramLmSql: String =
    s"""WITH $bigramCtesSql,
       |pre AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c1 FROM pc GROUP BY w1)
       |SELECT pc.w1, pc.w2, pc.n_pair, pc.n_pair * 1000000 // pre.c1 AS cond_ppm
       |FROM pc JOIN pre USING (w1)
       |ORDER BY pc.w1, pc.w2""".stripMargin

  // ---------------------------------------------------------------- №125 pmi_pairs
  /** Top collocations by pointwise-mutual-information LIFT over the №97
    * bigram frame — the phrase-mining signal (multi-word expressions for
    * tokenizer vocab seeding, stopword-bigram suppression): lift(x,y) =
    * n_pair·N / (cx·cy) over the bigram-position marginals, support-
    * filtered (n_pair ≥ [[PmiMinCount]] — raw PMI is maximal for
    * singletons; the filter is what makes the ranking meaningful), top
    * [[PmiK]] by (lift DESC, w1, w2).
    *
    * PMI = log2(lift) is MONOTONE in lift, so ranking by lift is ranking
    * by PMI with no libm log anywhere (§5): all four factors are exact
    * BIGINTs, and the two PRODUCTS are computed in DECIMAL(38,0) in both
    * engines — at 100 TB (N ~ 1e12 tokens) cx·cy for two frequent words
    * exceeds 2^63, and a silent BIGINT wrap would flip the lift ranking;
    * DECIMAL(38) holds products to 1e38 (N ~ 1e19·1e19, beyond any
    * corpus). At gate SFs the products are < 2^53 so the one double
    * division at the end is exact-input and 6dp-rounds identically in
    * both engines; past 2^53 the ranking degrades gracefully through
    * double precision instead of wrapping. Scale shape:
    * everything derives from ONE persisted bigram aggregation (pairs,
    * both marginals, the grand total — no second corpus pass); marginal
    * attach is vocab-keyed equi-joins (never broadcast — vocabulary grows
    * with the corpus); the single-row N is the only broadcast; final
    * ranking is orderBy+limit → TakeOrderedAndProject (per-partition
    * top-50 heaps, never a global sort). */
  val PmiMinCount = 4
  val PmiK = 50

  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pc = graft.CacheRegistry.track(bigramCounts(spark, dir).persist())
    val mx = pc.groupBy($"w1").agg(sum($"n_pair").as("cx"))
    val my = pc.groupBy($"w2").agg(sum($"n_pair").as("cy"))
    val nn = pc.agg(sum($"n_pair").as("n"))
    pc.filter($"n_pair" >= PmiMinCount)
      .join(mx, "w1").join(my, "w2")
      .crossJoin(broadcast(nn))
      .select($"w1", $"w2", $"n_pair", $"cx", $"cy",
        round(($"n_pair".cast("decimal(38,0)") * $"n").cast("double")
          / ($"cx".cast("decimal(38,0)") * $"cy").cast("double"), 6).as("lift"))
      .orderBy($"lift".desc, $"w1", $"w2")
      .limit(PmiK)
  }

  val pmiPairsSql: String =
    s"""WITH $bigramCtesSql,
       |mx AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS cx FROM pc GROUP BY w1),
       |my AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS cy FROM pc GROUP BY w2),
       |nn AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM pc)
       |SELECT pc.w1, pc.w2, pc.n_pair, cx, cy,
       |  round(CAST(CAST(pc.n_pair AS DECIMAL(38,0)) * n AS DOUBLE)
       |        / CAST(CAST(cx AS DECIMAL(38,0)) * cy AS DOUBLE), 6) AS lift
       |FROM pc JOIN mx USING (w1) JOIN my USING (w2) CROSS JOIN nn
       |WHERE pc.n_pair >= $PmiMinCount
       |ORDER BY lift DESC, pc.w1, pc.w2
       |LIMIT $PmiK""".stripMargin

  // ---------------------------------------------------------- №107/108 bpe_train / bpe_encode
  /** Number of BPE merge rounds learned/applied by №107/№108. Small so the
    * DuckDB oracle's unrolled CTE chain stays tractable; the Spark loop is
    * written for any K. */
  val BpeMerges = 10

  /** A word as its initial BPE state: characters joined by single spaces
    * ("hello" → "h e l l o"). The words() alphabet is [a-z0-9], so `(.)`
    * is byte-safe in both regex engines. */
  private[queries] def bpeInitState(tok: Column): Column =
    trim(regexp_replace(tok, "(.)", "$1 "))

  /** Apply ONE learned merge (a,b)→ab to a symbol-state string.
    *
    * Replace semantics in both engines are leftmost, non-overlapping,
    * resuming AFTER the replacement — which on a shared single-space
    * delimiter would miss back-to-back merge sites (" a b a b ": the
    * first replacement consumes the middle space, so the second "a b"
    * no longer has a leading delimiter). Doubling every separator first
    * gives each boundary its own private spaces, so one global replace
    * merges every site exactly as the sequential BPE scan does
    * ("a a a" → "aa a", "a b a b" → "ab ab"); a whitespace collapse
    * renormalizes. Symbols are [a-z0-9]+ so plain-string patterns are
    * safe. */
  private[queries] def bpeApplyMerge(state: Column, a: String, b: String): Column =
    trim(regexp_replace(
      replace(replace(concat(lit(" "), state, lit(" ")), lit(" "), lit("  ")),
        lit(s" $a  $b "), lit(s" $a$b ")),
      " +", " "))

  /** Adjacent symbol pairs of a state column ("a b c" → ["a b", "b c"]).
    * Caller filters to ≥2 symbols first (sequence() rejects a negative
    * upper bound). */
  private def bpeAdjPairs(stateCol: String): Column =
    expr(s"transform(sequence(0, size(split($stateCol, ' ')) - 2), " +
      s"i -> concat(split($stateCol, ' ')[i], ' ', split($stateCol, ' ')[i + 1]))")

  /** The learned merge table, driver-side: (step, pair, merged, n_pairs).
    *
    * Scale shape — why BPE training is corpus-size-independent after one
    * pass: the corpus collapses to its weighted VOCABULARY first (one
    * explode + hash agg with map-side partials), and every round after
    * runs over distinct words only — pair mining is a vocab-bounded
    * aggregation whose argmax brings ONE row to the driver (the model
    * state; same justification as the k-means centroid collect), and the
    * merge application is a pure string projection over the persisted
    * vocab. At 100 TB the vocab agg is the only corpus-sized job; the K
    * training rounds never touch the corpus again. */
  private[queries] def bpeLearnMerges(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    var vocab = graft.CacheRegistry.track(
      Tables(spark, dir).documents
        .select(explode(words($"text")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"tok").agg(count(lit(1)).as("n"))
        .select($"n", bpeInitState($"tok").as("state"))
        .persist())
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to BpeMerges) {
      val best = vocab
        .filter(size(split($"state", " ")) >= 2)
        .select($"n", explode(bpeAdjPairs("state")).as("pair"))
        .groupBy($"pair").agg(sum($"n").as("n_pairs"))
        .orderBy($"n_pairs".desc, $"pair")
        .limit(1).collect()
      require(best.nonEmpty, s"BPE merge $step: vocabulary exhausted (corpus too small)")
      val pair = best(0).getString(0)
      val Array(a, b) = pair.split(" ", 2)
      out += ((step, pair, a + b, best(0).getLong(1)))
      vocab = graft.CacheRegistry.track(
        vocab.withColumn("state", bpeApplyMerge($"state", a, b)).persist())
    }
    out.result()
  }

  /** Driver-LOCAL training loop — the production shape at real vocab
    * sizes: at 32k merges, K sequential Spark jobs is the wrong loop (per-
    * job scheduling dwarfs the vocab-bounded work). The ONE corpus-sized
    * job is the weighted-vocabulary aggregation; the vocab is MODEL-STATE
    * sized (distinct words, corpus-size-independent — the k-means-centroid
    * collect precedent), so the K merge rounds run locally over it:
    * weighted adjacent-pair counts, argmax (count DESC, pair ASC), and the
    * sequential leftmost-resume-after merge scan BpeSpec proves equivalent
    * to the engine's doubled-delimiter replace. BpeSpec also pins
    * merge-table equality against [[bpeLearnMerges]] on the live corpus. */
  private[queries] def bpeLearnMergesLocal(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    val vocab0: Array[(Long, String)] = Tables(spark, dir).documents
      .select(explode(words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .select($"n", $"tok").as[(Long, String)].collect()
    var vocab: Array[(Long, Array[String])] =
      vocab0.map { case (n, t) => (n, t.split("").filter(_.nonEmpty)) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to BpeMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (n, s) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      require(counts.nonEmpty, s"BPE merge $step: vocabulary exhausted (corpus too small)")
      val ((a, b), nPairs) = counts.minBy { case ((x, y), n) => (-n, s"$x $y") }
      out += ((step, s"$a $b", a + b, nPairs))
      vocab = vocab.map { case (n, s) =>
        if (s.length < 2) (n, s)
        else {
          val buf = Array.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { buf += a + b; i += 2 }
            else { buf += s(i); i += 1 }
          }
          (n, buf.result())
        }
      }
    }
    out.result()
  }

  /** №107 — BPE tokenizer TRAINING: the full iterative merge loop that
    * №89 bpe_pairs is the first step of (the public byte-pair-encoding
    * subword algorithm, Sennrich et al. 2016). [[BpeMerges]] rounds of:
    * count adjacent symbol pairs over the weighted vocabulary, merge the
    * highest-count pair everywhere (ties: pair ASC), emit the merge
    * table — the learned tokenizer model. The row runs the distributed
    * loop (K vocab-bounded Spark rounds), the K-small proof shape;
    * [[bpeTrainWith]] `local` is the production loop at real vocab sizes
    * ([[bpeLearnMergesLocal]] — collect the bounded vocab once, run the
    * merge rounds driver-side). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainWith(spark, dir, "distributed")

  def bpeTrainWith(spark: SparkSession, dir: String, mode: String): DataFrame = {
    import spark.implicits._
    val merges = mode match {
      case "local" => bpeLearnMergesLocal(spark, dir)
      case _       => bpeLearnMerges(spark, dir)
    }
    merges.toDF("step", "pair", "merged", "n_pairs").orderBy($"step")
  }

  /** №107's local-mode driver row — same answers (same oracle), the
    * training rounds collapsed to driver arithmetic over the collected
    * vocab; only the vocabulary aggregation touches the cluster. */
  def bpeTrainLocal(spark: SparkSession, dir: String): DataFrame =
    bpeTrainWith(spark, dir, "local")

  /** Shared CTE prologue: v0 (weighted vocab in char-state form), then per
    * step i: p_i (pair counts), b_i (argmax + its replace pattern), v_i
    * (vocab after the merge) — unrolled by the SAME loop count as the
    * Spark side, so the two engines cannot disagree on the round count. */
  private[queries] def bpeCteSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""v0 AS MATERIALIZED (
         |  SELECT count(*) AS n, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS state
         |  FROM (SELECT unnest(${wordsSql("text")}) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY tok)""".stripMargin)
    for (i <- 1 to BpeMerges) {
      sb.append(
        s""",
           |p$i AS MATERIALIZED (
           |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_pairs FROM (
           |    SELECT n, unnest(list_transform(range(1, len(string_split(state, ' '))),
           |      j -> string_split(state, ' ')[CAST(j AS INT)] || ' ' || string_split(state, ' ')[CAST(j AS INT) + 1])) AS pair
           |    FROM v${i - 1})
           |  GROUP BY pair),
           |b$i AS MATERIALIZED (
           |  SELECT $i AS step, pair, replace(pair, ' ', '') AS merged, n_pairs,
           |    ' ' || string_split(pair, ' ')[1] || '  ' || string_split(pair, ' ')[2] || ' ' AS pat,
           |    ' ' || replace(pair, ' ', '') || ' ' AS rep
           |  FROM p$i ORDER BY n_pairs DESC, pair LIMIT 1),
           |v$i AS MATERIALIZED (
           |  SELECT n, trim(regexp_replace(replace(replace(' ' || state || ' ', ' ', '  '),
           |    (SELECT pat FROM b$i), (SELECT rep FROM b$i)), ' +', ' ', 'g')) AS state
           |  FROM v${i - 1})""".stripMargin)
    }
    sb.toString
  }

  val bpeTrainSql: String =
    s"""WITH $bpeCteSql
       |${(1 to BpeMerges).map(i => s"SELECT step, pair, merged, n_pairs FROM b$i").mkString("\nUNION ALL ")}
       |ORDER BY step""".stripMargin

  /** №108 — BPE ENCODE: apply the learned merge table to every word of
    * every document and count the resulting subword tokens — the
    * corpus-wide tokenization pass a trained tokenizer exists for.
    *
    * Scale shape: the model (K merge rules) is collected once and applied
    * as LITERAL string projections — the encode pass is a zero-shuffle
    * map over the corpus (whole-stage codegen'd replace chain), followed
    * by one map-side-combining hash agg on doc_id. No join against the
    * vocab, no broadcast of anything corpus-sized — this is how a 100 TB
    * corpus is tokenized: ship the tiny model into the closure, stream
    * the data through it once. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeDocCounts(spark, dir).orderBy($"doc_id")
  }

  /** Hot-path form of the merge chain: replacing " a  b " with " ab " in
    * the DOUBLED state leaves every gap at exactly two spaces (1 left
    * remnant + 1 from the replacement), so the invariant survives all K
    * merges and the chain is K plain replaces with ONE regex at init and
    * ONE collapse at the end — vs pad+double+collapse per round in
    * bpeApplyMerge (fine for the vocab-sized train loop, 3× the string
    * passes on a corpus-sized encode; measured 6.0→3.5s at sf0.1).
    * BpeSpec proves this path ≡ the reference scan. */
  private[queries] def bpeEncodeChain(tok: Column, merges: Seq[(Int, String, String, Long)]): Column = {
    var state: Column = concat(lit("  "), regexp_replace(tok, "(.)", "$1  "))
    for ((_, pair, merged, _) <- merges) {
      val Array(a, b) = pair.split(" ", 2)
      state = replace(state, lit(s" $a  $b "), lit(s" $merged "))
    }
    trim(replace(state, lit("  "), lit(" ")))
  }

  /** Per-doc (doc_id, n_words, bpe_tokens) — shared by [[bpeEncode]] and
    * the №110 tokenize_pack composition. */
  private[queries] def bpeDocCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = bpeLearnMerges(spark, dir)
    Tables(spark, dir).documents
      .select($"doc_id", explode(words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .select($"doc_id", size(split(bpeEncodeChain($"tok", merges), " ")).as("n_tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_tok").as("bpe_tokens"))
  }

  /** The encode chain as a DuckDB expression over a word column `tok` —
    * the same K levels, each consuming b_i's precomputed pattern. */
  private[queries] def bpeEncodeStateSql: String = {
    var st = "trim(regexp_replace(tok, '(.)', '\\1 ', 'g'))"
    for (i <- 1 to BpeMerges)
      st = s"trim(regexp_replace(replace(replace(' ' || $st || ' ', ' ', '  '), " +
        s"(SELECT pat FROM b$i), (SELECT rep FROM b$i)), ' +', ' ', 'g'))"
    st
  }

  val bpeEncodeSql: String = {
    val st = bpeEncodeStateSql
    s"""WITH $bpeCteSql,
       |w AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents)
       |  WHERE tok <> '')
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split($st, ' '))) AS BIGINT) AS bpe_tokens
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №140 bpe_fertility
  /** Tokenizer FERTILITY per language — BPE tokens per word (the
    * tokenizer-equity metric multilingual teams track: an
    * English-dominated merge table "taxes" other languages with more
    * tokens per word, inflating their effective sequence length and
    * training cost): the №108 encode chain's per-doc counts
    * ([[bpeDocCounts]] — the SAME fragment, fertility cannot drift from
    * the encoder) rolled up per lang, fertility as EXACT integer ppm
    * (bpe_tokens·10⁶ DIV words). The per-lang spread is MEASURED — on
    * this synthetic corpus (shared content vocabulary, per-lang marker
    * words) the spread is real but small; on a natural multilingual
    * corpus this is the table that exposes tokenizer tax. One lang-keyed
    * bounded rollup on top of the encode pass. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = bpeDocCounts(spark, dir)
    Tables(spark, dir).documents.select($"doc_id", $"lang")
      .join(per, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_words"),
        sum($"bpe_tokens").as("bpe_tokens"))
      .select($"lang", $"n_docs", $"n_words", $"bpe_tokens",
        expr("bpe_tokens * 1000000 DIV n_words").as("fertility_ppm"))
      .orderBy($"lang")
  }

  val bpeFertilitySql: String = {
    val st = bpeEncodeStateSql
    s"""WITH $bpeCteSql,
       |bf_w AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents)
       |  WHERE tok <> ''),
       |bf_per AS (
       |  SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(len(string_split($st, ' '))) AS BIGINT) AS bpe_tokens
       |  FROM bf_w GROUP BY doc_id)
       |SELECT d.lang, count(*) AS n_docs,
       |  CAST(sum(p.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(p.bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(p.bpe_tokens) AS BIGINT) * 1000000 // CAST(sum(p.n_words) AS BIGINT) AS fertility_ppm
       |FROM bf_per p JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // ---------------------------------------------------------------- №113 fuzzy_pairs
  /** Edit-distance-1 entity-name pairs (typo-suspect mining for entity
    * resolution — near-identical identifiers are the classic data-entry
    * defect) via the FastSS deletion-neighborhood join (public algorithm:
    * Bocek et al. 2007): key every name by {itself} ∪ {itself minus one
    * char}; two names are at Levenshtein distance ≤1 iff they share a key
    * (substitution: both delete the differing position; insert/delete:
    * the shorter IS a deletion of the longer), so the equi-join finds
    * EVERY distance-1 pair — an exact levenshtein()==1 verify then keeps
    * precision at 100%. Output: per-customer suspect counts (compact, and
    * the hash is sensitive to any missed/extra pair).
    *
    * Scale shape: the key frame is |entities|·(len+1) rows joined
    * hash-equi on the key — entity-bounded and evenly distributed, never
    * an all-pairs n² comparison; the exact verify runs only on
    * candidates. The documents corpus has a 31-word synthetic vocabulary
    * with zero distance-1 structure, so the operator targets the entity
    * names where the real workload (and 19.5k verified pairs at the
    * sf0.01 gate) lives. */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = Tables(spark, dir).customer
      .select($"c_custkey", lower($"c_name").as("nm"))
    // array_distinct: deleting any char of a same-char run yields ONE
    // string — emitting it once per run (not per position) cuts the join
    // multiplicity quadratically on run-heavy names (zero-padded ids)
    // the entity table is a narrow single-split scan locally — without a
    // spread the broadcast-join probe (and the 1M-candidate levenshtein
    // verify behind it) would run on ONE core; hash-spreading the key
    // frame on the join key parallelizes the whole candidate pipeline
    // (measured 9.0→2.0s at sf0.1; the partition count is PINNED — an
    // expression-only repartition gets AQE-coalesced back to one
    // partition at this shuffle size) and is a no-op shuffle at scale
    // (keys ≪ corpus)
    val keys = names.select($"c_custkey", $"nm", explode(array_distinct(concat(
      array($"nm"),
      expr("transform(sequence(1, length(nm)), i -> " +
        "concat(substring(nm, 1, i - 1), substring(nm, i + 1, length(nm))))"))))
      .as("k"))
      .repartition(names.sparkSession.sparkContext.defaultParallelism, col("k"))
    // verify BEFORE the pair dedupe (codegen'd levenshtein on candidates is
    // cheaper than shuffling non-pairs), dedupe as a 2-long-col hash agg,
    // and derive BOTH sides' degrees from ONE pass over the pair frame —
    // a union of two selects would re-evaluate the whole join subtree
    // twice (the r7 dedup_cluster union lesson)
    val pairs = keys.as("a").join(keys.as("b"), col("a.k") === col("b.k") && col("a.nm") < col("b.nm"))
      .filter(levenshtein(col("a.nm"), col("b.nm")) === 1)
      .select(col("a.c_custkey").as("key_a"), col("b.c_custkey").as("key_b"))
      .dropDuplicates("key_a", "key_b")
    pairs.select(explode(array($"key_a", $"key_b")).as("c_custkey"))
      .groupBy($"c_custkey").agg(count(lit(1)).as("n_suspects"))
      .join(names, Seq("c_custkey"))
      .select($"c_custkey", $"nm".as("name"), $"n_suspects")
      .orderBy($"c_custkey")
  }

  val fuzzyPairsSql: String =
    s"""WITH v AS (SELECT c_custkey, lower(c_name) AS nm FROM customer),
       |k AS (
       |  SELECT c_custkey, nm, unnest(list_distinct(list_prepend(nm,
       |    list_transform(range(1, length(nm) + 1), i ->
       |      substr(nm, 1, CAST(i AS INT) - 1) || substr(nm, CAST(i AS INT) + 1, length(nm)))))) AS k
       |  FROM v),
       |p AS (
       |  SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b, a.nm AS nm_a, b.nm AS nm_b
       |  FROM k a JOIN k b ON a.k = b.k AND a.nm < b.nm),
       |pv AS (SELECT key_a, key_b FROM p WHERE levenshtein(nm_a, nm_b) = 1),
       |deg AS (
       |  SELECT c_custkey, count(*) AS n_suspects FROM (
       |    SELECT key_a AS c_custkey FROM pv UNION ALL SELECT key_b FROM pv)
       |  GROUP BY c_custkey)
       |SELECT deg.c_custkey, v.nm AS name, deg.n_suspects
       |FROM deg JOIN v ON v.c_custkey = deg.c_custkey
       |ORDER BY deg.c_custkey""".stripMargin

  // ------------------------------------------------------- №90/91 tf-idf retrieval
  /** Shared TF-IDF frame: (doc_id, tok, tf, idf_bits). idf in the
    * lm_score integer-exact form — `length(bin(N DIV df))` is ⌊log₂⌋+1 of
    * the inverse document frequency, computed bit-identically in both
    * engines (libm log() would break §5 determinism). Feeds
    * [[keywordExtract]] and [[bm25Search]] so extraction and retrieval
    * can never disagree on a weight. Shape: token explode → ONE
    * (doc, tok) hash agg; df derived FROM tf (vocab-bounded second agg);
    * N a single-row broadcast; the df attach is an equi-join on tok —
    * vocabulary grows with the corpus, so it is never force-broadcast. */
  private[queries] def tfIdfOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val tf = docs.select($"doc_id", explode(words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfr, "tok")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"tok", $"tf",
        length(expr("bin(n_docs DIV df)")).cast("long").as("idf_bits"))
  }

  /** Same frame as DuckDB CTEs, ending in `tfx(doc_id, tok, tf, idf_bits)`. */
  private[queries] val tfIdfCtesSql: String =
    s"""tfx_t AS (SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents),
       |tfx_tf AS (SELECT doc_id, tok, count(*) AS tf FROM tfx_t WHERE tok <> '' GROUP BY 1, 2),
       |tfx_df AS (SELECT tok, count(*) AS df FROM tfx_tf GROUP BY tok),
       |tfx_n AS (SELECT count(*) AS n_docs FROM documents),
       |tfx AS (
       |  SELECT doc_id, tok, tf, length(bin(n_docs // df)) AS idf_bits
       |  FROM tfx_tf JOIN tfx_df USING (tok) CROSS JOIN tfx_n)""".stripMargin

  /** Keywords per doc = top-[[KwK]] tokens by tf·idf_bits (score DESC,
    * token ASC tiebreak) — exact integer scores, engine-independent. */
  val KwK = 5

  // ---------------------------------------------------------------- №90 keyword_extract
  /** Per-document TF-IDF keyword extraction — the classic "what is this
    * document about" signal (tagging, index building, near-dup triage).
    * Score = tf · idf_bits, exact BIGINT both engines. Ranking is a
    * window PARTITIONED BY doc — per-doc partitions sort at most the
    * doc's distinct-token count (vocab-bounded), parallelize across the
    * corpus, and never become a global sort. */
  def keywordExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"tok")
    tfIdfOf(spark, dir)
      .withColumn("score", $"tf" * $"idf_bits")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= KwK)
      .select($"doc_id", $"rank", $"tok", $"score")
      .orderBy($"doc_id", $"rank")
  }

  val keywordExtractSql: String =
    s"""WITH $tfIdfCtesSql,
       |r AS (
       |  SELECT doc_id, tok, CAST(tf * idf_bits AS BIGINT) AS score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tf * idf_bits DESC, tok) AS rank
       |  FROM tfx)
       |SELECT doc_id, rank, tok, score FROM r WHERE rank <= $KwK
       |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- №91 bm25_search
  /** Inverted-index keyword retrieval (the BM25 shape with the integer-
    * exact idf of [[tfIdfOf]]): each query doc (doc_id ≡ 0 mod [[QMod]])
    * queries the corpus with its own top-[[QTerms]] keywords; candidate
    * score = Σ tf(t,d) · idf_bits(t) over the query's terms; top-[[SearchK]]
    * docs per query (score DESC, doc_id ASC).
    *
    * Scale shape: ONE persisted tf-idf pass feeds query-term extraction
    * AND retrieval (they cannot drift); the probe is an EQUI-JOIN on the
    * term — the relational form of an inverted-index posting-list lookup,
    * no broadcast of any corpus-proportional set; ranking via the
    * GroupedTopK physical operator (bounded per-partition heaps → one
    * hash exchange on q_doc), where a window would shuffle and sort every
    * candidate row. Self-retrieval is the built-in sanity signal: the
    * query doc itself scores its own keywords' full tf·idf mass. */
  val QMod = 61
  val QTerms = 3
  val SearchK = 10

  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ti = graft.CacheRegistry.track(tfIdfOf(spark, dir).persist())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy(($"tf" * $"idf_bits").desc, $"tok")
    val qt = ti.filter($"doc_id" % QMod === 0)
      .withColumn("kr", row_number().over(w))
      .filter($"kr" <= QTerms)
      .select($"doc_id".as("q_doc"), $"tok", $"idf_bits".as("w_bits"))
    val scored = ti.join(qt, "tok")
      .groupBy($"q_doc", $"doc_id")
      .agg(sum($"tf" * $"w_bits").cast("double").as("score"))
    graft.plans.GroupedTopK.rankedTopK(scored, "q_doc", "score", "doc_id", SearchK)
      .select($"q_doc", $"rank", $"doc_id", $"score".cast("long").as("score"))
      .orderBy($"q_doc", $"rank")
  }

  /** The №91 CTE chain up to the ranked candidate frame `bmr(q_doc,
    * doc_id, score, rank)` — shared with №122 hybrid_search so the fused
    * BM25 leg cannot drift from the standalone operator. */
  private[queries] val bm25CtesSql: String =
    s"""$tfIdfCtesSql,
       |qr AS (
       |  SELECT doc_id, tok, idf_bits,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tf * idf_bits DESC, tok) AS kr
       |  FROM tfx WHERE doc_id % $QMod = 0),
       |qt AS (SELECT doc_id AS q_doc, tok, idf_bits AS w_bits FROM qr WHERE kr <= $QTerms),
       |sc AS (
       |  SELECT qt.q_doc, tfx.doc_id, CAST(sum(tfx.tf * qt.w_bits) AS BIGINT) AS score
       |  FROM tfx JOIN qt USING (tok) GROUP BY 1, 2),
       |bmr AS (
       |  SELECT q_doc, doc_id, score,
       |    row_number() OVER (PARTITION BY q_doc ORDER BY score DESC, doc_id) AS rank
       |  FROM sc)""".stripMargin

  val bm25SearchSql: String =
    s"""WITH $bm25CtesSql
       |SELECT q_doc, rank, doc_id, score FROM bmr WHERE rank <= $SearchK
       |ORDER BY q_doc, rank""".stripMargin

  // ---------------------------------------------------------------- №123 heavy_hitters
  /** Corpus-wide frequent tokens (count > N/[[HhT]] of the token mass) via
    * the sketch-then-verify pattern — the 100 TB shape for vocabulary-
    * scale frequency questions (stopword induction, tokenizer seeding,
    * spam-token detection) where a full `groupBy(token)` would shuffle one
    * partial per DISTINCT token per partition (n-gram vocabularies:
    * billions of keys):
    *
    * 1. SKETCH pass — [[graft.functions.MisraGries]] with k = [[HhT]]
    *    counters as a native aggregate: map-side partials bound the
    *    shuffle to ≤ k entries PER PARTITION, and the MG bound
    *    (estimate ≥ count − N/(k+1)) makes the merged sketch a guaranteed
    *    SUPERSET of every token with count > N/k.
    * 2. VERIFY pass — exact counts of the ≤ k candidates only (equi-join
    *    on the broadcast candidate set, then a hash agg whose shuffle is
    *    candidate-bounded), filtered by the exact predicate
    *    `cnt · HhT > N`.
    *
    * Because no true heavy hitter can be missing from the candidate set,
    * the output equals the exact full-groupBy answer — deterministic
    * regardless of the sketch's merge order — while the corpus-scale
    * passes stay scan-bound. The oracle computes the exact form directly;
    * HeavyHittersSpec pins the MG bound + superset property on the live
    * corpus and on an adversarial handcrafted stream. */
  val HhT = 256

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // one tokenization shared by the three passes (sketch, total, verify);
    // at 100 TB drop the persist and let each pass re-scan — all three are
    // scan-bound and the token stream is far bigger than the source text
    val toks = graft.CacheRegistry.track(
      docs.select(explode(words($"text")).as("tok")).filter($"tok" =!= "").persist())
    val cand = toks.agg(graft.functions.MisraGries.sketch($"tok", HhT).as("sk"))
      .select(explode($"sk").as("e")).select($"e.tok".as("tok"))
    val n = toks.agg(count(lit(1)).as("n_tok"))
    toks.join(broadcast(cand), "tok")
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter($"cnt" * HhT > $"n_tok")
      .select($"tok", $"cnt", $"n_tok")
      .orderBy($"cnt".desc, $"tok")
  }

  val heavyHittersSql: String =
    s"""WITH hh_t AS (SELECT unnest(${wordsSql("text")}) AS tok FROM documents),
       |hh_tf AS (SELECT tok FROM hh_t WHERE tok <> ''),
       |hh_c AS (SELECT tok, count(*) AS cnt FROM hh_tf GROUP BY tok),
       |hh_n AS (SELECT count(*) AS n_tok FROM hh_tf)
       |SELECT tok, cnt, n_tok FROM hh_c CROSS JOIN hh_n
       |WHERE cnt * $HhT > n_tok
       |ORDER BY cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------- №124 length_quantiles
  /** EXACT doc-length quantiles (deciles + p99 of №30's ws_tokens measure)
    * without a corpus sort — the sequence-length planning table a training
    * pipeline reads before picking pack bins (№55), truncation budgets and
    * outlier cut-offs, where `approx_percentile`'s error bound is the
    * wrong trade and a global `orderBy` funnels the corpus through one
    * ordered partition.
    *
    * The value-HISTOGRAM formulation: the only corpus-sized pass is a hash
    * agg keyed on the length VALUE — a domain-bounded key (distinct token
    * counts ≤ max doc length: thousands, however many docs) — after which
    * the cumulative window and the quantile argmins run on the
    * domain-bounded histogram (the single-partition window is over
    * ~10³ rows regardless of corpus size — the bounded-calendar-rollup
    * justification, not a corpus window). Quantile definition is the
    * discrete lower quantile, INTEGER-EXACT in both engines: q-th pct
    * value = min{v : 100·cum(v) ≥ q·N} — no float division anywhere. */
  val QuantilePcts: Seq[Int] = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 99)

  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables(spark, dir).documents
      .select(size(words($"text")).as("n_tok"))
      .groupBy($"n_tok").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n_tok")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // total derived FROM the histogram (domain-bounded) — no second corpus scan
    val cum = hist.withColumn("cum", sum($"cnt").over(w))
      .crossJoin(broadcast(hist.agg(sum($"cnt").as("n_docs"))))
    val aggs = QuantilePcts.map(q =>
      min(when(lit(100) * $"cum" >= lit(q) * $"n_docs", $"n_tok")).as(s"q$q"))
    cum.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${QuantilePcts.length}, " +
        QuantilePcts.map(q => s"$q, q$q").mkString(", ") + ") AS (pct, n_tok)"))
      .orderBy($"pct")
  }

  // ---------------------------------------------------------------- №137 span_corrupt
  /** T5/UL2-style SPAN CORRUPTION — the denoising-pretraining data prep
    * (Raffel et al. 2020): each doc's token stream becomes an
    * (input, target) pair where masked spans are replaced by numbered
    * sentinels in the input and emitted after their sentinel in the
    * target. Spans are chosen DETERMINISTICALLY with non-overlap BY
    * CONSTRUCTION: tokens partition into fixed blocks of [[SpanBlock]],
    * and block b masks positions [2, 2+L_b) where L_b = 1 + (first
    * md5(doc_id:b) nibble mod 3) — ≈29% masked in expectation, no span
    * merge logic to disagree on (the classic iid-span samplers need
    * overlap resolution; the block grid doesn't). Every decision is the
    * same closed-form md5-nibble arithmetic in both engines.
    *
    * Sentinels follow the T5 tokenizer convention: `<extra_id_j>` where
    * j is the RUNNING COUNT of masked spans emitted so far in the doc
    * (sequential 0,1,2,… — short blocks with sz ≤ 2 emit no sentinel and
    * consume no id), not the block index — so ids are dense and bounded
    * by the masked-span count, matching the pretrained-tokenizer special
    * vocab. The running count is a closed-form prefix aggregate over the
    * block grid (O(nb²) per doc with nb = ⌈n/7⌉ — trivially scan-bound),
    * identical in both engines.
    *
    * Scale shape: a pure per-row projection — tokenize, one HOF pass
    * over the block grid, two array_joins; ZERO shuffles (the doc_chunk
    * class). The spec reconstructs the ORIGINAL token stream from
    * (input, target) for every doc — the round trip a training pipeline
    * depends on (detokenizing a model's span predictions back into
    * text). */
  val SpanBlock = 7

  def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir).documents
      .select($"doc_id", words($"text").as("ws"))
      .withColumn("n", size($"ws"))
      .filter($"n" >= 8)
      .withColumn("nb", expr(s"CAST((n + ${SpanBlock - 1}) DIV $SpanBlock AS INT)"))
    val lx = "1 + (CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(b AS STRING))), 1, 1), 16, 10) AS INT) % 3)"
    val sz = s"least($SpanBlock, n - b*$SpanBlock)"
    // sentinel id = running count of masked blocks strictly BEFORE b:
    // prefix-count over [0..b] minus block b itself (only used when sz > 2,
    // where the own-block term is exactly 1)
    val sid = s"(aggregate(sequence(0, b), 0, (acc, c) -> acc + " +
      s"(CASE WHEN least($SpanBlock, n - c*$SpanBlock) > 2 THEN 1 ELSE 0 END)) - 1)"
    val inputArr =
      s"""flatten(transform(sequence(0, nb - 1), b ->
         |  concat(
         |    slice(ws, b*$SpanBlock + 1, least(2, $sz)),
         |    CASE WHEN $sz > 2 THEN array(concat('<extra_id_', $sid, '>')) ELSE slice(ws, 1, 0) END,
         |    slice(ws, b*$SpanBlock + 2 + ($lx) + 1, greatest(0, ($sz) - 2 - ($lx))))))""".stripMargin
    val targetArr =
      s"""flatten(transform(sequence(0, nb - 1), b ->
         |  CASE WHEN $sz > 2
         |    THEN concat(array(concat('<extra_id_', $sid, '>')),
         |                slice(ws, b*$SpanBlock + 3, least($lx, ($sz) - 2)))
         |    ELSE slice(ws, 1, 0) END))""".stripMargin
    val maskedCnt =
      s"aggregate(sequence(0, nb - 1), 0, (acc, b) -> acc + greatest(0, least($lx, ($sz) - 2)))"
    base.select($"doc_id", $"n".as("n_tok"),
      expr(maskedCnt).as("n_masked"),
      array_join(expr(inputArr), " ").as("input"),
      array_join(expr(targetArr), " ").as("target"))
      .orderBy($"doc_id")
  }

  val spanCorruptSql: String = {
    val B = SpanBlock
    val lx = s"(1 + ((strpos('0123456789abcdef', substr(md5(doc_id || ':' || b), 1, 1)) - 1) % 3))"
    val sz = s"least($B, n - b*$B)"
    val sid = s"(CAST(list_sum(list_transform(range(0, CAST(b + 1 AS INT)), c -> " +
      s"CASE WHEN least($B, n - c*$B) > 2 THEN 1 ELSE 0 END)) AS INT) - 1)"
    s"""WITH sc_w AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
       |sc_d AS (SELECT doc_id, ws, CAST(len(ws) AS INT) AS n FROM sc_w WHERE len(ws) >= 8),
       |sc_p AS (SELECT doc_id, ws, n, (n + ${B - 1}) // $B AS nb FROM sc_d)
       |SELECT doc_id, n AS n_tok,
       |  CAST(list_sum(list_transform(range(0, nb), b ->
       |    greatest(0, least($lx, ($sz) - 2)))) AS INT) AS n_masked,
       |  array_to_string(flatten(list_transform(range(0, nb), b ->
       |    list_concat(list_concat(
       |      ws[b*$B + 1 : b*$B + least(2, $sz)],
       |      CASE WHEN $sz > 2 THEN ['<extra_id_' || $sid || '>'] ELSE [] END),
       |      ws[b*$B + 2 + $lx + 1 : b*$B + $sz]))), ' ') AS input,
       |  array_to_string(flatten(list_transform(range(0, nb), b ->
       |    CASE WHEN $sz > 2
       |      THEN list_concat(['<extra_id_' || $sid || '>'],
       |                       ws[b*$B + 3 : b*$B + 2 + least($lx, ($sz) - 2)])
       |      ELSE [] END)), ' ') AS target
       |FROM sc_p ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №142 distinct_sketch
  /** Mergeable DISTINCT-COUNT sketch — [[graft.functions.HyperLogLog]]
    * (the cardinality twin of №123's Misra-Gries frequency sketch) with
    * its error MEASURED per group against exact `countDistinct`, on the
    * per-source distinct-trigram question (vocabulary-class cardinality:
    * grows with the corpus, the shape `countDistinct` cannot answer at
    * 100 TB without shuffling one row per distinct shingle per
    * partition — the sketch shuffles a fixed 256-int register buffer per
    * partition instead).
    *
    * Everything after the sketch is exact integer arithmetic both engines
    * reproduce bit-for-bit (§5): the register array is md5-derived
    * (HyperLogLog scaladoc), S = Σ 2^(32−rank) is an exact BIGINT (ranks
    * capped at 32; ≤ 2^40 here) and exactly representable as double, the
    * estimate constant α·m²·2^32/10^6 is spelled as the SAME literal
    * expression in both engines (exact-integer factors, IEEE-deterministic
    * double folds), so est and err_ppm are cross-engine EXACT — the
    * measured error of an approximate operator, oracle-checked like any
    * exact one. The raw-estimate branch applies at every gate SF
    * (n_exact ≥ 1000 ≫ 2.5m = 640); production low-cardinality groups
    * would add the linear-counting branch off the shipped `zeros` column.
    * Bound context: σ ≈ 1.04/√256 ≈ 6.5%; the spec pins err under 3σ and
    * register-level merge invariance on adversarial trees. */
  val HllP = 8
  /** α_m·10⁶ for m = 2^[[HllP]] (Flajolet α_256 = 0.7213/(1+1.079/m)). */
  val HllAlphaPpm = 718273L
  /** The estimate numerator as an expression BOTH engines evaluate on
    * exact-integer factors: α_ppm · m² · 2^32 / 10⁶. Shared with the
    * streaming twin (№143) so the estimate arithmetic cannot fork. */
  private[graft] val hllNumExpr = s"CAST($HllAlphaPpm AS DOUBLE) * 65536 * 4294967296 / 1000000"

  /** The trigram-shingle stream (source, sh) — the high-cardinality
    * domain shared by №142/№143/№147 (the sketch family's common input). */
  private[graft] val TrigramCase: String =
    "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws)-3), " +
      "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) ELSE array() END"

  private[graft] def trigramStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"source", words($"text").as("ws"))
      .select($"source", explode(expr(TrigramCase)).as("sh"))
  }

  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = trigramStream(spark, dir)
    sh.groupBy($"source")
      .agg(graft.functions.HyperLogLog.sketch($"sh", HllP).as("regs"),
        countDistinct($"sh").as("n_exact"))
      .select($"source", $"n_exact",
        expr("size(filter(regs, r -> r = 0))").as("zeros"),
        expr("aggregate(regs, CAST(0 AS BIGINT), (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 32 - r))").as("s_sum"))
      .withColumn("est", expr(s"CAST(round($hllNumExpr / s_sum + 0.000000001) AS BIGINT)"))
      .withColumn("err_ppm", expr("abs(est - n_exact) * 1000000 DIV n_exact"))
      .orderBy($"source")
  }

  val distinctSketchSql: String =
    s"""WITH ds_w AS (SELECT source, ${wordsSql("text")} AS ws FROM documents),
       |ds_s AS (
       |  SELECT source, unnest(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, CAST(len(ws)-1 AS BIGINT)), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END) AS sh
       |  FROM ds_w),
       |ds_d AS (SELECT DISTINCT source, sh FROM ds_s),
       |ds_h AS (
       |  SELECT source, sh,
       |    CAST(list_sum(list_transform(range(0, 15), j ->
       |      (strpos('0123456789abcdef', substr(md5(sh), CAST(j + 1 AS INT), 1)) - 1)
       |        * (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) AS h
       |  FROM ds_d),
       |ds_r AS (SELECT source, h // 4503599627370496 AS reg, h % 4503599627370496 AS rest FROM ds_h),
       |ds_rk AS (
       |  SELECT source, reg,
       |    least(CASE WHEN rest = 0 THEN 53 ELSE 52 - length(bin(rest)) + 1 END, 32) AS rank
       |  FROM ds_r),
       |ds_m AS (SELECT source, reg, max(rank) AS r FROM ds_rk GROUP BY source, reg),
       |ds_agg AS (
       |  SELECT source, count(*) AS n_present,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(32 - r AS INT)) AS BIGINT) AS s_present
       |  FROM ds_m GROUP BY source),
       |ds_x AS (SELECT source, count(*) AS n_exact FROM ds_d GROUP BY source),
       |ds_f AS (
       |  SELECT x.source, x.n_exact,
       |    CAST(256 - a.n_present AS INT) AS zeros,
       |    s_present + (256 - a.n_present) * 4294967296 AS s_sum
       |  FROM ds_x x JOIN ds_agg a ON a.source = x.source)
       |SELECT source, n_exact, zeros, s_sum,
       |  CAST(round($hllNumExpr / s_sum + 0.000000001) AS BIGINT) AS est,
       |  (abs(CAST(round($hllNumExpr / s_sum + 0.000000001) AS BIGINT) - n_exact) * 1000000) // n_exact AS err_ppm
       |FROM ds_f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- №144 vocab_growth
  /** VOCABULARY GROWTH curve (Heaps' law V ≈ K·Tᵝ — Heaps 1978): distinct
    * types vs cumulative tokens over 10 equal corpus prefixes — the
    * saturation measurement a tokenizer-training / dedup-planning pipeline
    * reads before fixing a vocab budget (is the corpus still yielding new
    * types, or has the type/token ratio collapsed?).
    *
    * Spark-first: NO per-prefix re-scan (the naive formulation runs 10
    * growing distinct-counts — 10 corpus passes, 55× the data read). One
    * pass derives each token's FIRST-occurrence bucket (min over a
    * 10-bucket doc_id grid — a single hash agg on the token), so
    * `new_types per bucket` + a 10-row cumulative window IS the whole
    * curve; token totals ride the same exploded frame. All integer-exact:
    * ttr_ppm = vocab·10⁶ DIV tokens. PRECONDITION: dense doc_ids (the
    * generator's contract; №138's note) — the bucket grid is
    * doc_id·10 DIV N. */
  /** Overflow bound (r11 audit): ttr_ppm multiplies vocab_cum (distinct
    * TYPES, not tokens) by 10⁶ — Heaps' law caps V ≈ K·T^β ≈ 1.6·10¹¹
    * types at 2.5·10¹³ tokens, so the product stays ≤ ~1.6·10¹⁷ < 2⁶³;
    * tokens_cum itself is never multiplied. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    val n = docs.agg((max($"doc_id") + 1).as("n"))
    val toks = graft.CacheRegistry.track(docs
      .select($"doc_id", explode(words($"text")).as("tok")).filter($"tok" =!= "")
      .crossJoin(broadcast(n))
      .select(expr("(doc_id * 10) DIV n").as("bucket"), $"tok")
      .persist())
    val newTypes = toks.groupBy($"tok").agg(min($"bucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("new_types"))
    val cnt = toks.groupBy($"bucket").agg(count(lit(1)).as("n_tok"))
    val w = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce($"new_types", lit(0L)))
      .withColumn("tokens_cum", sum($"n_tok").over(w))
      .withColumn("vocab_cum", sum($"new_types").over(w))
      .select($"bucket", $"n_tok", $"new_types", $"tokens_cum", $"vocab_cum",
        expr("vocab_cum * 1000000 DIV tokens_cum").as("ttr_ppm"))
      .orderBy($"bucket")
  }

  val vocabGrowthSql: String =
    s"""WITH vg_t0 AS (SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents),
       |vg_t AS (SELECT doc_id, tok FROM vg_t0 WHERE tok <> ''),
       |vg_n AS (SELECT max(doc_id) + 1 AS n FROM documents),
       |vg_b AS (SELECT (doc_id * 10) // n AS bucket, tok FROM vg_t CROSS JOIN vg_n),
       |vg_f AS (SELECT tok, min(bucket) AS bucket FROM vg_b GROUP BY tok),
       |vg_new AS (SELECT bucket, count(*) AS new_types FROM vg_f GROUP BY bucket),
       |vg_cnt AS (SELECT bucket, count(*) AS n_tok FROM vg_b GROUP BY bucket),
       |vg_j AS (
       |  SELECT c.bucket, c.n_tok, coalesce(w.new_types, 0) AS new_types
       |  FROM vg_cnt c LEFT JOIN vg_new w USING (bucket))
       |SELECT bucket, n_tok, new_types,
       |  CAST(sum(n_tok) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum,
       |  CAST(sum(new_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
       |  CAST(sum(new_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000
       |    // CAST(sum(n_tok) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ttr_ppm
       |FROM vg_j ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- №147 freq_estimate
  /** FREQUENCY POINT QUERIES via [[graft.functions.CountMin]] — the third
    * member of the sketch family (№123 Misra-Gries: the heavy SET,
    * №142 HyperLogLog: the distinct COUNT, Count-Min: "how often does
    * THIS item occur" for ANY item — the shape that powers per-item
    * frequency lookups over streams/corpora too large for a full
    * groupBy): one depth×width counter grid (4×256 = 8 KB) absorbs the
    * whole trigram stream with map-side partials, then the [[CmsTopK]]
    * most frequent trigrams (exact side, deterministic tie-break) are
    * point-queried against the sketch and the OVERCOUNT is measured per
    * item — est ≥ true always (the one-sided CMS guarantee, spec-pinned),
    * est − true bounded by the colliding mass (~N/width per row, min
    * over depth rows). Every counter, estimate, and overcount is exact
    * integer arithmetic on md5-derived slots — the approximate operator
    * is DuckDB-oracle-checked EXACTLY (№142's discipline). Scale shape:
    * sketch build is ONE constant-size aggregation; the query side joins
    * the 20-row top frame to the 1024-row exploded grid (both
    * broadcast-sized). */
  val CmsDepth = 4
  val CmsWidth = 256
  val CmsTopK = 20

  def freqEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = graft.CacheRegistry.track(
      trigramStream(spark, dir).select($"sh").persist())
    val slots = grams.agg(graft.functions.CountMin.sketch($"sh", CmsDepth, CmsWidth).as("sk"))
      .select(posexplode($"sk"))
      .select($"pos".cast("long").as("idx"), $"col".as("c"))
    val top = grams.groupBy($"sh").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"sh").limit(CmsTopK)
    top.withColumn("d", explode(sequence(lit(0), lit(CmsDepth - 1))))
      .withColumn("idx", ($"d" * CmsWidth).cast("long") +
        expr(s"CAST(conv(substring(md5(concat(CAST(d AS STRING), '|', sh)), 1, 15), 16, 10) AS BIGINT) % $CmsWidth"))
      .join(broadcast(slots), "idx")
      .groupBy($"sh", $"true_cnt").agg(min($"c").as("est"))
      .select($"sh", $"true_cnt", $"est", ($"est" - $"true_cnt").as("overcount"))
      .orderBy($"true_cnt".desc, $"sh")
  }

  val freqEstimateSql: String = {
    val slot = s"CAST(list_sum(list_transform(range(0, 15), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR) || '|' || sh), CAST(j + 1 AS INT), 1)) - 1) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) % $CmsWidth"
    s"""WITH fe_w AS (SELECT ${wordsSql("text")} AS ws FROM documents),
       |fe_s AS (
       |  SELECT unnest(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, CAST(len(ws)-1 AS BIGINT)), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END) AS sh
       |  FROM fe_w),
       |fe_g AS (SELECT sh, count(*) AS true_cnt FROM fe_s GROUP BY sh),
       |fe_d AS (SELECT d FROM range(0, $CmsDepth) t(d)),
       |fe_slot AS (
       |  SELECT sh, true_cnt, d, $slot AS slot FROM fe_g CROSS JOIN fe_d),
       |fe_tot AS (SELECT d, slot, CAST(sum(true_cnt) AS BIGINT) AS c FROM fe_slot GROUP BY d, slot),
       |fe_top AS (SELECT sh, true_cnt FROM fe_g ORDER BY true_cnt DESC, sh LIMIT $CmsTopK),
       |fe_q AS (SELECT sh, true_cnt, d, $slot AS slot FROM fe_top CROSS JOIN fe_d),
       |fe_est AS (
       |  SELECT q.sh, q.true_cnt, min(tot.c) AS est
       |  FROM fe_q q JOIN fe_tot tot ON tot.d = q.d AND tot.slot = q.slot
       |  GROUP BY q.sh, q.true_cnt)
       |SELECT sh, true_cnt, CAST(est AS BIGINT) AS est,
       |  CAST(est - true_cnt AS BIGINT) AS overcount
       |FROM fe_est ORDER BY true_cnt DESC, sh""".stripMargin
  }

  // ---------------------------------------------------------------- №133 source_quantiles
  /** №124's exact-quantile histogram formulation GROUPED — per-SOURCE
    * length deciles+p99 (the per-domain sequence-length planning table:
    * different crawl sources have different length profiles, and pack
    * bins / truncation budgets are tuned per domain): the histogram hash
    * agg keys on (source, length value) — still domain-bounded per
    * source — and the cumulative window PARTITIONS BY source, so each
    * partition sorts one source's value domain (~10³ rows), parallel
    * across sources, never a corpus sort. The per-source total attaches
    * by a source-keyed equi-join (#sources rows — AQE broadcasts it by
    * size, not by force). Same integer-exact discrete lower quantile as
    * №124. */
  def sourceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables(spark, dir).documents
      .select($"source", size(words($"text")).as("n_tok"))
      .groupBy($"source", $"n_tok").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_tok")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = hist.groupBy($"source").agg(sum($"cnt").as("n_docs"))
    val cum = hist.withColumn("cum", sum($"cnt").over(w)).join(tot, "source")
    val aggs = QuantilePcts.map(q =>
      min(when(lit(100) * $"cum" >= lit(q) * $"n_docs", $"n_tok")).as(s"q$q"))
    cum.groupBy($"source").agg(aggs.head, aggs.tail: _*)
      .select($"source", expr(s"stack(${QuantilePcts.length}, " +
        QuantilePcts.map(q => s"$q, q$q").mkString(", ") + ") AS (pct, n_tok)"))
      .orderBy($"source", $"pct")
  }

  val sourceQuantilesSql: String = {
    val mins = QuantilePcts
      .map(q => s"min(CASE WHEN 100*cum >= $q*n_docs THEN n_tok END) AS q$q").mkString(",\n    ")
    val unpivot = QuantilePcts
      .map(q => s"SELECT source, $q AS pct, q$q AS n_tok FROM sq_a").mkString("\n  UNION ALL ")
    s"""WITH sq_h AS (
       |  SELECT source, len(${wordsSql("text")}) AS n_tok, count(*) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |sq_n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs FROM sq_h GROUP BY source),
       |sq_c AS (
       |  SELECT source, n_tok,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_tok) AS BIGINT) AS cum
       |  FROM sq_h),
       |sq_a AS (
       |  SELECT source, $mins
       |  FROM sq_c JOIN sq_n USING (source) GROUP BY source)
       |SELECT source, pct, n_tok FROM ($unpivot)
       |ORDER BY source, pct""".stripMargin
  }

  val lengthQuantilesSql: String = {
    val mins = QuantilePcts
      .map(q => s"min(CASE WHEN 100*cum >= $q*n_docs THEN n_tok END) AS q$q").mkString(",\n    ")
    val unpivot = QuantilePcts
      .map(q => s"SELECT $q AS pct, q$q AS n_tok FROM lq_a").mkString("\n  UNION ALL ")
    s"""WITH lq_h AS (
       |  SELECT len(${wordsSql("text")}) AS n_tok, count(*) AS cnt
       |  FROM documents GROUP BY 1),
       |lq_n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_docs FROM lq_h),
       |lq_c AS (SELECT n_tok, CAST(sum(cnt) OVER (ORDER BY n_tok) AS BIGINT) AS cum FROM lq_h),
       |lq_a AS (
       |  SELECT $mins
       |  FROM lq_c CROSS JOIN lq_n)
       |SELECT pct, n_tok FROM ($unpivot)
       |ORDER BY pct""".stripMargin
  }

  // ---------------------------------------------------------------- №158 quantile_sketch
  /** Per-source length quantiles via the DYADIC COUNT-MIN sketch
    * ([[graft.functions.DyadicCountMin]] — Cormode & Muthukrishnan 2005
    * §4.2), the quantile member of the sketch family, with its error
    * MEASURED per (source, percentile) against the exact №133 answer in
    * the same output row — the №142/№147 discipline: the approximate
    * operator's estimate, the exact truth, and the gap are all exact
    * integer arithmetic both engines reproduce bit-for-bit, so an
    * APPROXIMATE quantile is hash-checked by the DuckDB oracle EXACTLY.
    *
    * Why this exists next to the exact №124/№133 histogram formulation:
    * the histogram hash agg keys on the VALUE domain — fine for bounded
    * metrics (token counts), but for unbounded-cardinality metrics
    * (byte offsets, latencies, scores at fine precision) the histogram
    * key explodes with the corpus. The dyadic grid is the
    * constant-state drop-in: levels·depth·width counters per group
    * REGARDLESS of cardinality, linear merge (any tree), one pass.
    * №62 corpus_stats documents this operator as its unbounded-metric
    * scale path.
    *
    * Estimate definition (deterministic, both engines): est-q(pct) =
    * min{present v : 100·est_rank≤(v) ≥ pct·N} where est_rank≤(v) sums
    * the min-over-depth point queries of [0, v+1)'s canonical dyadic
    * decomposition (one interval per set bit of v+1, index
    * ((v+1)>>l)−1). Every point query only over-counts, so est_rank ≥
    * true rank and est-q ≤ exact-q ALWAYS (one-sided; spec-pinned).
    * err = est − exact ≤ 0 in every output row.
    *
    * Plan shape: ONE corpus-sized pass (the grid aggregation, map-side
    * partials, constant buffer per partition per source) + the exact
    * verify side (№133's domain-bounded histogram); the estimate join
    * runs on broadcast-sized frames (sources × levels·depth·width
    * slots vs candidates × set-bits × depth probes). */
  val QsLevels = 10 // value domain [0, 1024); 17 covers 128k-token contexts
  val QsDepth = 3
  val QsWidth = 32  // narrow on purpose at the gate SF: the measured-error
                    // columns should exercise real collisions, not zeros
  val QsMax: Int = (1 << QsLevels) - 1

  /** Spark-SQL slot of the (d, "l:idx") dyadic counter — the
    * [[graft.functions.CountMin.slot]] recipe with the level baked in.
    * Shared with №62 corpus_stats' scale path and №163's event-value
    * twin (one hash recipe, any width). */
  private[graft] def qsSlotExprW(width: Int): String =
    s"CAST(conv(substring(md5(concat(CAST(d AS STRING), '|', CAST(l AS STRING), ':', " +
      s"CAST(idx AS STRING))), 1, 15), 16, 10) AS BIGINT) % $width"

  private[queries] def qsSlotExpr: String = qsSlotExprW(QsWidth)

  /** Estimate + exact verify given the per-source flattened grid
    * (source, i, c) — shared by the batch row (native-aggregate slots)
    * and №159's streaming twin (driver-summed shard grids), so the
    * estimate arithmetic cannot fork between the two access paths. */
  private[graft] def quantileFromSlots(spark: SparkSession, dir: String,
                                       slots: DataFrame): DataFrame = {
    import spark.implicits._
    val hist = Tables(spark, dir).documents
      .select($"source", least(size(words($"text")), lit(QsMax)).cast("long").as("n_tok"))
      .groupBy($"source", $"n_tok").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_tok")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = hist.groupBy($"source").agg(sum($"cnt").as("n_docs"))
    val cum = hist.withColumn("cum", sum($"cnt").over(w)).join(broadcast(tot), "source")
    // est_rank≤(v): canonical decomposition of [0, v+1) — one interval
    // per set bit of v+1 at index ((v+1)>>l)−1 — point-queried min-over-
    // depth, summed; the whole-domain prefix (v = QsMax) is N directly.
    val er = cum.select($"source", $"n_tok")
      .withColumn("l", explode(sequence(lit(0), lit(QsLevels - 1))))
      .filter(expr("(shiftright(n_tok + 1, l) & 1) = 1"))
      .withColumn("idx", expr("shiftright(n_tok + 1, l) - 1"))
      .withColumn("d", explode(sequence(lit(0), lit(QsDepth - 1))))
      .withColumn("i", expr(s"(l * $QsDepth + d) * $QsWidth + $qsSlotExpr"))
      .join(broadcast(slots), Seq("source", "i"))
      .groupBy($"source", $"n_tok", $"l").agg(min($"c").as("pq"))
      .groupBy($"source", $"n_tok").agg(sum($"pq").as("er"))
    val ranks = cum.join(er, Seq("source", "n_tok"), "left")
      .withColumn("est_rank",
        when($"n_tok" === QsMax, $"n_docs").otherwise(coalesce($"er", lit(0L))))
    val aggs = QuantilePcts.flatMap(q => Seq(
      min(when(lit(100) * $"cum" >= lit(q) * $"n_docs", $"n_tok")).as(s"x$q"),
      min(when(lit(100) * $"est_rank" >= lit(q) * $"n_docs", $"n_tok")).as(s"e$q")))
    ranks.groupBy($"source").agg(aggs.head, aggs.tail: _*)
      .select($"source", expr(s"stack(${QuantilePcts.length}, " +
        QuantilePcts.map(q => s"$q, x$q, e$q").mkString(", ") +
        ") AS (pct, n_tok_exact, n_tok_est)"))
      .withColumn("err", $"n_tok_est" - $"n_tok_exact")
      .orderBy($"source", $"pct")
  }

  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slots = Tables(spark, dir).documents
      .select($"source", least(size(words($"text")), lit(QsMax)).cast("long").as("n_tok"))
      .groupBy($"source")
      .agg(graft.functions.DyadicCountMin.sketch($"n_tok", QsLevels, QsDepth, QsWidth).as("g"))
      .select($"source", posexplode($"g"))
      .select($"source", $"pos".cast("long").as("i"), $"col".as("c"))
    quantileFromSlots(spark, dir, slots)
  }

  val quantileSketchSql: String = {
    val slot = s"CAST(list_sum(list_transform(range(0, 15), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR) || '|' || CAST(l AS VARCHAR) || ':' || " +
      s"CAST(idx AS VARCHAR)), CAST(j + 1 AS INT), 1)) - 1) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) % $QsWidth"
    val mins = QuantilePcts.map(q =>
      s"min(CASE WHEN 100*cum >= $q*n_docs THEN n_tok END) AS x$q,\n    " +
        s"min(CASE WHEN 100*est_rank >= $q*n_docs THEN n_tok END) AS e$q").mkString(",\n    ")
    val unpivot = QuantilePcts
      .map(q => s"SELECT source, $q AS pct, x$q AS n_tok_exact, e$q AS n_tok_est FROM qs_a")
      .mkString("\n  UNION ALL ")
    s"""WITH qs_v AS (
       |  SELECT source, least(CAST(len(${wordsSql("text")}) AS BIGINT), $QsMax) AS n_tok
       |  FROM documents),
       |qs_h AS (SELECT source, n_tok, count(*) AS cnt FROM qs_v GROUP BY 1, 2),
       |qs_n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs FROM qs_h GROUP BY source),
       |qs_lv AS (SELECT l FROM range(0, $QsLevels) t(l)),
       |qs_dd AS (SELECT d FROM range(0, $QsDepth) t(d)),
       |qs_g AS (
       |  SELECT source, l, d, $slot AS slot, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT source, l, n_tok >> l AS idx, cnt FROM qs_h CROSS JOIN qs_lv)
       |  CROSS JOIN qs_dd GROUP BY 1, 2, 3, 4),
       |qs_c AS (
       |  SELECT source, n_tok,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_tok) AS BIGINT) AS cum
       |  FROM qs_h),
       |qs_dec AS (
       |  SELECT source, n_tok, l, ((n_tok + 1) >> l) - 1 AS idx
       |  FROM qs_c CROSS JOIN qs_lv WHERE ((n_tok + 1) >> l) & 1 = 1),
       |qs_pq AS (
       |  -- LEFT join: qs_g is SPARSE (only touched slots), but an absent
       |  -- counter is an exact ZERO — the native aggregate's array is dense
       |  SELECT dec.source, dec.n_tok, dec.l, min(coalesce(g.c, 0)) AS pq
       |  FROM (SELECT source, n_tok, l, idx, d, $slot AS slot
       |        FROM qs_dec CROSS JOIN qs_dd) dec
       |  LEFT JOIN qs_g g ON g.source = dec.source AND g.l = dec.l
       |    AND g.d = dec.d AND g.slot = dec.slot
       |  GROUP BY 1, 2, 3),
       |qs_er AS (SELECT source, n_tok, CAST(sum(pq) AS BIGINT) AS er FROM qs_pq GROUP BY 1, 2),
       |qs_r AS (
       |  SELECT c.source, c.n_tok, c.cum, n.n_docs,
       |    CASE WHEN c.n_tok = $QsMax THEN n.n_docs ELSE coalesce(s.er, 0) END AS est_rank
       |  FROM qs_c c JOIN qs_n n USING (source)
       |  LEFT JOIN qs_er s ON s.source = c.source AND s.n_tok = c.n_tok),
       |qs_a AS (
       |  SELECT source, $mins
       |  FROM qs_r GROUP BY source)
       |SELECT source, pct, n_tok_exact, n_tok_est,
       |  n_tok_est - n_tok_exact AS err
       |FROM ($unpivot) ORDER BY source, pct""".stripMargin
  }

}

/** MinHash-LSH and SimHash dedup (SURVEY §2 №22-23). Kept in their own
  * object: heavier machinery, same single-source-of-truth constants.
  */
object HashDedup {
  import TextQueries.{words, wordsSql, dupCorpus, dupCorpusSql}
  import org.apache.spark.sql.functions._

  val NumHashes = 12 // K minhash functions: md5 with salt k
  val Bands = 4      // LSH bands of R = K/Bands rows
  /** The canonical DF-ranked probe budget (№183/№187). Lives HERE, not in
    * CurationQueries: №187's oracle val reads it during HashDedup's own
    * object init, and a reverse reference (HashDedup → CurationQueries →
    * HashDedup) is an init CYCLE — when CurationQueries initializes
    * first, the constant reads 0 mid-cycle and the oracle's budget
    * filter silently degenerates (caught by the full-sweep driver
    * compare: bill 200 vs 400). One-directional only. */
  val MpDefaultBudget = 2
  val R: Int = NumHashes / Bands
  val HammingMax = 3 // simhash near-dup threshold
  val SimBits = 96   // 2×48-bit halves → 4×24-bit LSH bands (see SimHash96)
  val BandBits = 24  // band-key width: candidate pairs grow O(n²/2^BandBits)

  /** Conf'd LSH bucket-size cap (0 = off, the oracle-matched default).
    * THE web-dedup guard at 100 TB: a boilerplate/template shingle set
    * shared by even 1% of a crawl puts those docs' FULL signatures in
    * identical band buckets, and the band self-join goes quadratic in
    * the hot bucket's size — the failure RefinedWeb/CCNet handle by
    * capping or dropping oversized buckets (a bucket of b docs yields
    * b·(b−1)/2 candidate pairs; a template cluster is near-worthless
    * for near-dup RECALL anyway since its members are mutual dups that
    * exact-dedup already collapses). With the cap on, buckets holding
    * more than `cap` docs are EXCLUDED from pair generation — a recall
    * trade the caller opts into; [[cappedBucketStats]] accounts exactly
    * what was dropped (never silent). Candidate bound with the cap:
    * ≤ bands · (n/cap) · cap² = bands · n · cap — LINEAR in the corpus. */
  val BucketCapConfKey = "spark.graft.lsh.bucketCap"
  private def bucketCapOf(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(BucketCapConfKey, "0").toInt

  // ---------------------------------------------------------------- №22 dedup_minhash
  /** Word-3-shingles → K salted-md5 minhashes (single aggregation pass: K
    * min() aggregates over the exploded shingles — ONE shuffle on doc_id,
    * partial min map-side) → LSH band keys (md5 of R concatenated
    * minhashes) → per-band self-join on band key → distinct candidate
    * pairs. Band keys are high-cardinality md5s → even shuffle
    * distribution (SURVEY §4).
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashFrom(graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist()))

  /** K-minhash SIGNATURE frame (doc_id, m0..m11) — ONE aggregation pass
    * (K min() partials map-side), shared by №22 and the №148 band sweep
    * so the signatures graded at every banding are the same bytes. */
  private[graft] def minhashSigFrom(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sh = tok
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])))")).as("sh"))
    val minAggs = (0 until NumHashes).map(k => min(md5(concat(lit(s"$k|"), col("sh")))).as(s"m$k"))
    sh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** LSH band rows over a signature frame at a given band count
    * (r = K/bands rows hashed into each band key). */
  private[graft] def bandRowsOf(sig: org.apache.spark.sql.DataFrame, bands: Int): org.apache.spark.sql.DataFrame = {
    val r = NumHashes / bands
    (0 until bands).map { b =>
      val key = md5(concat((b * r until (b + 1) * r).map(k => col(s"m$k")): _*))
      sig.select(col("doc_id"), lit(b).as("band"), key.as("band_key"))
    }.reduce(_ unionAll _)
  }

  /** Distinct candidate pairs from a band-row frame (band-bucket
    * self-join, a < b, counted once per matching band). Honors
    * [[BucketCapConfKey]]: with a cap set, oversized buckets are
    * filtered BEFORE the self-join (the size agg shuffles on the same
    * (band, band_key) the join hashes on — co-partitioned, no extra
    * exchange shape), so the quadratic blow-up never materializes. */
  /** [[BucketCapConfKey]] eligibility filter over a band-row frame —
    * shared by the self-join pair generator and №173's probe join (where
    * capping the BASE side alone bounds candidates at probeRows·cap —
    * linear — since each probe key matches at most one bucket). */
  private[queries] def cappedBandRows(bands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cap = bucketCapOf(bands.sparkSession)
    if (cap <= 0) bands
    else bands.withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_key"))))
      .filter(col("bucket_n") <= cap).drop("bucket_n")
  }

  private[queries] def bandPairsOf(bands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandSelfPairs(cappedBandRows(bands))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))

  /** The band-key SELF-JOIN, one of the banded index's two joins: a
    * (band, doc_a, doc_b) row, doc_a < doc_b, for every band on which two
    * rows of `rows` (doc_id, band, band_key) share a key. Callers add
    * their own distinct, groupBy or cap. */
  private[graft] def bandSelfPairs(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rows.as("a").join(rows.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.band").as("band"), col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))

  /** The band-key PROBE JOIN, the banded index's other join: `keys` rows
    * matched on (band, `keyCol`) against `back`'s (band, band_key),
    * self-pairs dropped, each pair as (doc_a = least, doc_b = greatest)
    * plus the key side's `carry` columns. One row per matching band;
    * callers add their own distinct, groupBy or cap. */
  private[graft] def bandProbePairs(keys: org.apache.spark.sql.DataFrame,
                                    back: org.apache.spark.sql.DataFrame,
                                    keyCol: String = "band_key",
                                    carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    keys.as("a").join(back.as("b"),
        col("a.band") === col("b.band") && col(s"a.$keyCol") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(Seq(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b")) ++ carry.map(c => col(s"a.$c")): _*)

  /** Distinct candidate pairs of a band-key probe ([[bandProbePairs]]). */
  private[graft] def bandCandidates(keys: DataFrame, back: DataFrame): DataFrame =
    bandProbePairs(keys, back).distinct()

  /** The cap's accounting (drop is NEVER silent): per band, how many
    * buckets/rows/would-be candidate pairs the active cap excluded. */
  def cappedBucketStats(bands: org.apache.spark.sql.DataFrame, cap: Int): org.apache.spark.sql.DataFrame =
    bands.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("buckets_dropped"),
        sum(col("bucket_n")).as("rows_dropped"),
        sum(expr("bucket_n * (bucket_n - 1) DIV 2")).as("pairs_avoided"))

  /** Body over a PERSISTED (doc_id, ws) frame (shared by dedup_recall). */
  private[queries] def dedupMinhashFrom(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandPairsOf(bandRowsOf(minhashSigFrom(tok), Bands))
      .orderBy(col("doc_a"), col("doc_b"))

  val dedupMinhashSql: String = {
    val minCols = (0 until NumHashes).map(k => s"min(md5('$k|' || sh)) AS m$k").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val key = "md5(" + (b * R until (b + 1) * R).map(k => s"m$k").mkString(" || ") + ")"
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
       |  FROM d WHERE len(ws) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- №161 dedup_minhash_capped
  /** №22's band join with the [[BucketCapConfKey]] guard ACTIVE, as its
    * own ORACLE-CHECKED row (BucketCapSpec pins the drop semantics on a
    * handcrafted corpus; this row pins them against DuckDB on the live
    * one): per band — buckets total, buckets/rows dropped by the cap,
    * the candidate pairs the cap AVOIDED (the quadratic term the
    * SCALING.md adversarial table measures at ×10), and the pairs still
    * found. The proof-sized cap ([[CappedProofCap]] = 2) is chosen to
    * BITE on the gate corpus (the dup-injection makes 3-4-member
    * buckets); production caps sit at 32-128 (the guard exists for
    * template clusters of thousands, not legit near-dup pairs). Output
    * is [[Bands]] rows at any corpus size; the drop is never silent —
    * it IS the row. */
  val CappedProofCap = 2

  def dedupMinhashCapped(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val bands = graft.CacheRegistry.track(
      bandRowsOf(minhashSigFrom(tok), Bands).persist())
    val sizes = graft.CacheRegistry.track(
      bands.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("bucket_n")).persist())
    val eligible = bands.join(sizes, Seq("band", "band_key"))
      .filter(col("bucket_n") <= CappedProofCap)
    val found = bandSelfPairs(eligible).groupBy(col("band")).agg(count(lit(1)).as("pairs_found"))
    sizes.groupBy(col("band")).agg(
        count(lit(1)).as("buckets_total"),
        sum(when(col("bucket_n") > CappedProofCap, 1L).otherwise(0L)).as("buckets_dropped"),
        sum(when(col("bucket_n") > CappedProofCap, col("bucket_n")).otherwise(0L)).as("rows_dropped"),
        sum(when(col("bucket_n") > CappedProofCap,
          expr("bucket_n * (bucket_n - 1) DIV 2")).otherwise(0L)).as("pairs_avoided"))
      .join(found, Seq("band"), "left")
      .withColumn("pairs_found", coalesce(col("pairs_found"), lit(0L)))
      .orderBy(col("band"))
  }

  val dedupMinhashCappedSql: String = {
    val minCols = (0 until NumHashes).map(k => s"min(md5('$k|' || sh)) AS m$k").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val key = "md5(" + (b * R until (b + 1) * R).map(k => s"m$k").mkString(" || ") + ")"
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
       |  FROM d WHERE len(ws) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |bsz AS (SELECT band, band_key, count(*) AS bucket_n FROM bands GROUP BY 1, 2),
       |elig AS (
       |  SELECT b.doc_id, b.band, b.band_key FROM bands b
       |  JOIN bsz USING (band, band_key) WHERE bucket_n <= $CappedProofCap),
       |found AS (
       |  SELECT a.band, count(*) AS pairs_found
       |  FROM elig a JOIN elig b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  GROUP BY a.band),
       |acct AS (
       |  SELECT band, count(*) AS buckets_total,
       |    CAST(sum(CASE WHEN bucket_n > $CappedProofCap THEN 1 ELSE 0 END) AS BIGINT) AS buckets_dropped,
       |    CAST(sum(CASE WHEN bucket_n > $CappedProofCap THEN bucket_n ELSE 0 END) AS BIGINT) AS rows_dropped,
       |    CAST(sum(CASE WHEN bucket_n > $CappedProofCap THEN bucket_n * (bucket_n - 1) // 2 ELSE 0 END) AS BIGINT) AS pairs_avoided
       |  FROM bsz GROUP BY band)
       |SELECT acct.band, buckets_total, buckets_dropped, rows_dropped, pairs_avoided,
       |  coalesce(found.pairs_found, 0) AS pairs_found
       |FROM acct LEFT JOIN found ON found.band = acct.band
       |ORDER BY acct.band""".stripMargin
  }

  // ---------------------------------------------------------------- №23 dedup_simhash
  /** 96-bit SimHash (struct of two 48-bit longs — see [[graft.functions.SimHash96]]
    * for why 96): per distinct token, h = first 24 md5 hex chars; bit b of
    * the fingerprint is the sign of Σ count·(±1) over tokens. Spark finds
    * close pairs via 4×24-bit band LSH (hamming ≤ 3 ⇒ at least one band
    * equal — pigeonhole), then verifies summed bit_count(xor) over both
    * halves. 24-bit band keys bound candidate growth at O(n²/2²⁴) — the
    * 100 TB-safe band width (the previous 15-bit bands hit a quadratic
    * cliff ~512× earlier). The oracle does the O(n²) scan over a 96-way
    * bit-join fingerprint — an independent formulation.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashFrom(graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist()))

  /** Body over a PERSISTED (doc_id, ws) frame (shared by dedup_recall). */
  private[queries] def dedupSimhashFrom(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Fingerprint = ONE narrow projection via the native SimHash96
    // expression (vs. the oracle's explode + 96-way bit join — an
    // independent relational formulation of the same function).
    val fp = graft.CacheRegistry.track(tok
      .select(col("doc_id"), graft.functions.SimHash96.simhash96(col("ws")).as("f"))
      .select(col("doc_id"), col("f.hi").as("hi"), col("f.lo").as("lo"))
      .persist())
    val mask = (1L << BandBits) - 1
    val bands = (0 until 4).map { i =>
      val key = if (i < 2) expr(s"(lo >> ${BandBits * i}) & $mask")
                else expr(s"(hi >> ${BandBits * (i - 2)}) & $mask")
      fp.select(col("doc_id"), lit(i).as("band"), key.as("band_key"))
    }.reduce(_ unionAll _)
    // same hot-bucket exposure as the minhash band join (a boilerplate
    // cluster's identical fingerprints share every band key) — honor the
    // same conf'd cap (default off; every oracle runs uncapped)
    val cand = bandSelfPairs(cappedBandRows(bands))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand.join(fp.select(col("doc_id").as("doc_a"), col("hi").as("hi_a"), col("lo").as("lo_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"), col("lo").as("lo_b")), "doc_b")
      .withColumn("hamming", expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared oracle CTE chain for №23/№182: corpus → tokens → per-token
    * 96-bit hash halves → per-bit signed vote sums (`bits` — №182's
    * margin statistic is |s|) → fingerprint halves `fp`. */
  private[queries] def simhashFpChainSql: String = {
    // 48-bit halves of the first 24 hex chars of md5(tok), per-nibble shifts
    def hexParse(from: Int): String =
      s"CAST(list_sum(list_transform(range($from, ${from + 12}), i -> " +
        s"CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT) << (4 * (${from + 11} - i)))) AS BIGINT)"
    s"""$dupCorpusSql,
       |toks AS (
       |  SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM corpus),
       |tc AS MATERIALIZED (
       |  SELECT doc_id, tok, count(*) AS cnt, ${hexParse(1)} AS h_hi, ${hexParse(13)} AS h_lo
       |  FROM toks GROUP BY doc_id, tok),
       |bits AS MATERIALIZED (
       |  SELECT doc_id, b.b,
       |    sum(CASE WHEN (CASE WHEN b.b < 48 THEN (h_lo >> b.b) & 1 ELSE (h_hi >> (b.b - 48)) & 1 END) = 1
       |      THEN cnt ELSE -cnt END) AS s
       |  FROM tc, (SELECT unnest(range(0, $SimBits)) AS b) b
       |  GROUP BY doc_id, b.b),
       |fp AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 AND b >= 48 THEN CAST(1 AS BIGINT) << (b - 48) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(sum(CASE WHEN s > 0 AND b < 48 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY doc_id)""".stripMargin
  }

  val dedupSimhashSql: String =
    s"""WITH $simhashFpChainSql
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- №182 dedup_simhash_multiprobe
  /** HAMMING-BALL MULTI-PROBE for the simhash family — №173's recall
    * lever carried to №23, where the probe ranking is finally on home
    * ground (Lv et al. 2007's query-directed probing was DERIVED for
    * metric-structured hashes like simhash's bit votes; minhash needed
    * №181's DF detour). Banding at the hard point: TWO 48-bit bands
    * (half №23's index — 2 rows/doc vs 4 — and a 2⁴⁸ key space, so the
    * quadratic bucket cliff moves out another 2²⁴×), where pigeonhole
    * only guarantees pairs with a ZERO-diff half; a hamming ≤ 3 pair
    * split (1,1)/(1,2)/(2,1) across the halves is MISSED by base
    * banding. Radius-1 probes close exactly that gap: every h ≤ 3 pair
    * has some half with ≤ 1 differing bit, so flipping single bits
    * reaches full h ≤ 3 recall at 48 flips/band — and the per-bit vote
    * MARGIN |Σ±cnt| says WHICH bits a near-dup's edit flips first (the
    * low-margin ones: a bit flips when the token diff crosses its vote
    * boundary), so rank flips margin-ASC and spend Q ≪ 48.
    *
    * Truth is EXACT, not sampled: №23's own 4×24 banding + verify is
    * provably complete for hamming ≤ 3 (≤ 3 diffs over 4 disjoint bands
    * leave one band untouched), so `n_true` is the full h ≤ 3 pair set
    * computed by machinery already oracle-pinned. Candidates (base ∪
    * budgeted probes) are verified with the same exact bit_count test;
    * prec = verification yield, rec = verified/truth. One probe join
    * serves both rankings × all budgets via per-ranking tiers (№181's
    * discipline); the margin-DESC control inverts the claim. Measured
    * (sf0.01): base 2-band verifies 75/87 h≤3 pairs; margin_asc
    * recovers 8 of the 12 missed at Q=1 and ALL 12 at Q=2 flips/band
    * (rec 1.0 at a 4·docs lookup bill, half №23's index), while
    * margin_desc recovers ZERO through Q=8 — the margin IS informative,
    * completing the №174/№181/№182 triptych (uninformative proxy /
    * informative detour / natively informative score). */
  val SimMpSweep: Seq[Int] = Seq(1, 2, 4, 8)
  val SimMpMax: Int = SimMpSweep.max

  def dedupSimhashMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    // fingerprint + per-bit vote sums in the SAME single native pass
    val fp = graft.CacheRegistry.track(tok
      .select(col("doc_id"), graft.functions.SimHash96Sums.simhash96Sums(col("ws")).as("f"))
      .select(col("doc_id"), col("f.hi").as("hi"), col("f.lo").as("lo"), col("f.sums").as("sums"))
      .persist())
    // truth: №23's 4×24 band+verify — pigeonhole-COMPLETE for h ≤ HammingMax
    val truth = graft.CacheRegistry.track(
      dedupSimhashFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    val baseRows = graft.CacheRegistry.track(
      fp.select(col("doc_id"), lit(0).as("band"), col("lo").as("band_key"))
        .unionAll(fp.select(col("doc_id"), lit(1).as("band"), col("hi").as("band_key")))
        .persist())
    val baseCand = graft.CacheRegistry.track(
      bandSelfPairs(cappedBandRows(baseRows)).select(col("doc_a"), col("doc_b")).distinct()
        .persist())
    // radius-1 probe keys ranked by vote margin within (doc, band); both
    // directions numbered once, rows kept if EITHER ranking can spend them
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"), col("band"))
    val ranked = graft.CacheRegistry.track(fp
      .select(col("doc_id"), col("hi"), col("lo"), posexplode(col("sums")).as(Seq("gb", "s")))
      .select(col("doc_id"), col("gb"),
        when(col("gb") < SimHash96Half, lit(0)).otherwise(lit(1)).as("band"),
        abs(col("s")).as("margin"),
        expr(s"(CASE WHEN gb < $SimHash96Half THEN lo ELSE hi END) " +
          s"^ (CAST(1 AS BIGINT) << (gb % $SimHash96Half))").as("probe_key"))
      .withColumn("rn_asc", row_number().over(w.orderBy(col("margin"), col("gb"))))
      .withColumn("rn_desc", row_number().over(w.orderBy(col("margin").desc, col("gb"))))
      .filter(col("rn_asc") <= SimMpMax || col("rn_desc") <= SimMpMax)
      .persist())
    // ONE capped probe join; each found pair carries its per-ranking tier
    val probeTier = graft.CacheRegistry.track(
      bandProbePairs(ranked, cappedBandRows(baseRows), "probe_key", Seq("rn_asc", "rn_desc"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("rn_asc")).as("t_asc"), min(col("rn_desc")).as("t_desc"))
        .persist())
    val fpA = fp.select(col("doc_id").as("doc_a"), col("hi").as("hi_a"), col("lo").as("lo_a"))
    val fpB = fp.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"), col("lo").as("lo_b"))
    def grade(ranking: String, q: Int, cand: DataFrame, bill: Column): DataFrame = {
      val verified = cand.join(fpA, "doc_a").join(fpB, "doc_b")
        .filter(expr(s"bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) <= $HammingMax"))
        .select(col("doc_a"), col("doc_b"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(baseRows.agg(count(lit(1)).as("n_index_rows"))))
        .crossJoin(broadcast(ranked.agg(bill.cast("long").as("n_probe_rows"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(verified.join(broadcast(truth), Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hit"))))
        .select(lit(ranking).as("ranking"), lit(q.toLong).as("flips_q"),
          col("n_index_rows"), col("n_probe_rows"), col("n_candidates"),
          col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / greatest(col("n_candidates"), lit(1L)) + 1e-9, 6).as("prec"),
          round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
    }
    val rankings = Seq("margin_asc" -> ("t_asc", "rn_asc"), "margin_desc" -> ("t_desc", "rn_desc"))
    val rows = grade("base", 0, baseCand, count(lit(1)) * 0) +:
      (for { (name, (tcol, rncol)) <- rankings; q <- SimMpSweep } yield {
        val cand = graft.CacheRegistry.track(baseCand
          .unionAll(probeTier.filter(col(tcol) <= q).select(col("doc_a"), col("doc_b")))
          .distinct().persist())
        grade(name, q, cand, sum(when(col(rncol) <= q, 1L).otherwise(0L)))
      })
    rows.reduce(_ unionAll _).orderBy(col("ranking"), col("flips_q"))
  }
  private val SimHash96Half = graft.functions.SimHash96.Half

  /** №188: №182's margin-ranked Hamming-ball probing as a PIPELINE
    * pair-finding mode — the second production-grade LSH family at
    * 100 TB (r13 verdict item 7). Candidates = the 2×48-bit base band
    * self-join ∪ margin-ASC radius-1 probes at Q = [[PipelineSimMpQ]]
    * flips/band (№182's measured full-recall point on the gate corpora:
    * all 12 base-missed h≤3 pairs recovered at Q=2). Both joins honor
    * the shared bucket cap; verification is the pipeline's exact τ=3/5
    * test, NOT the hamming test — the mode changes candidate generation
    * only, so where simhash+probe recall is 1.0 the pipeline is
    * row-identical to ppjoin/minhash_mp (DedupPipelineModeSpec). */
  val PipelineSimMpQ = 2

  private[graft] def smpCandidatesFrom(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fp = graft.CacheRegistry.track(tok
      .select(col("doc_id"), graft.functions.SimHash96Sums.simhash96Sums(col("ws")).as("f"))
      .select(col("doc_id"), col("f.hi").as("hi"), col("f.lo").as("lo"), col("f.sums").as("sums"))
      .persist())
    val baseRows = graft.CacheRegistry.track(
      fp.select(col("doc_id"), lit(0).as("band"), col("lo").as("band_key"))
        .unionAll(fp.select(col("doc_id"), lit(1).as("band"), col("hi").as("band_key")))
        .persist())
    val baseCand = bandSelfPairs(cappedBandRows(baseRows)).select(col("doc_a"), col("doc_b"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"), col("band"))
    val probes = fp
      .select(col("doc_id"), col("hi"), col("lo"), posexplode(col("sums")).as(Seq("gb", "s")))
      .select(col("doc_id"), col("gb"),
        when(col("gb") < SimHash96Half, lit(0)).otherwise(lit(1)).as("band"),
        abs(col("s")).as("margin"),
        expr(s"(CASE WHEN gb < $SimHash96Half THEN lo ELSE hi END) " +
          s"^ (CAST(1 AS BIGINT) << (gb % $SimHash96Half))").as("probe_key"))
      .withColumn("rn", row_number().over(w.orderBy(col("margin"), col("gb"))))
      .filter(col("rn") <= PipelineSimMpQ)
    val probeCand = bandProbePairs(probes, cappedBandRows(baseRows), "probe_key")
    baseCand.unionAll(probeCand).distinct()
  }

  /** Oracle CTE chain for the `simhash_mp` pipeline mode: the №23/№182
    * fingerprint chain (`corpus`, `bits`, `fp`), the tokenized `mp_d`
    * the shared pipeline-verification suffix consumes, and the base ∪
    * margin-ASC-probed candidate sets (`smp_bc`, `smp_pc`). */
  private[queries] def smpChainSql: String =
    s"""$simhashFpChainSql,
       |mp_d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |smp_base AS MATERIALIZED (
       |  SELECT doc_id, 0 AS band, lo AS band_key FROM fp
       |  UNION ALL SELECT doc_id, 1, hi FROM fp),
       |smp_bc AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM smp_base a JOIN smp_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |smp_probe AS (
       |  SELECT t.doc_id, t.b AS gb,
       |    CASE WHEN t.b < $SimHash96Half THEN 0 ELSE 1 END AS band,
       |    abs(t.s) AS margin,
       |    xor(CASE WHEN t.b < $SimHash96Half THEN f.lo ELSE f.hi END,
       |        CAST(1 AS BIGINT) << (t.b % $SimHash96Half)) AS probe_key
       |  FROM bits t JOIN fp f USING (doc_id)),
       |smp_ranked AS MATERIALIZED (
       |  SELECT doc_id, band, probe_key,
       |    row_number() OVER (PARTITION BY doc_id, band ORDER BY margin ASC, gb) AS rn
       |  FROM smp_probe),
       |smp_pc AS MATERIALIZED (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM smp_ranked a JOIN smp_base b
       |    ON a.band = b.band AND a.probe_key = b.band_key AND a.doc_id <> b.doc_id
       |  WHERE a.rn <= $PipelineSimMpQ)""".stripMargin

  val dedupSimhashMultiprobeSql: String = {
    val rankings = Seq("margin_asc" -> "margin ASC", "margin_desc" -> "margin DESC")
    val candCtes = (for { (name, _) <- rankings; q <- SimMpSweep } yield {
      s"""sm_c_${name}_$q AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM sm_bc
         |  UNION
         |  SELECT doc_a, doc_b FROM sm_tier WHERE t_$name <= $q)""".stripMargin
    }).mkString(",\n")
    val verifiedCtes = (for { (name, _) <- rankings; q <- SimMpSweep } yield {
      s"""sm_v_${name}_$q AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b FROM sm_c_${name}_$q c
         |  JOIN fp a ON a.doc_id = c.doc_a JOIN fp b ON b.doc_id = c.doc_b
         |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $HammingMax)""".stripMargin
    }).mkString(",\n")
    val gradeRows =
      s"""  SELECT 'base' AS ranking, CAST(0 AS BIGINT) AS flips_q,
         |    (SELECT count(*) FROM sm_base) AS n_index_rows,
         |    CAST(0 AS BIGINT) AS n_probe_rows,
         |    (SELECT count(*) FROM sm_bc) AS n_candidates,
         |    (SELECT count(*) FROM sm_truth) AS n_true,
         |    (SELECT count(*) FROM sm_vb JOIN sm_truth USING (doc_a, doc_b)) AS n_hit""".stripMargin +:
      (for { (name, _) <- rankings; q <- SimMpSweep } yield {
        val rn = if (name == "margin_asc") "rn_asc" else "rn_desc"
        s"""  SELECT '$name', CAST($q AS BIGINT),
           |    (SELECT count(*) FROM sm_base),
           |    (SELECT count(*) FROM sm_ranked WHERE $rn <= $q),
           |    (SELECT count(*) FROM sm_c_${name}_$q),
           |    (SELECT count(*) FROM sm_truth),
           |    (SELECT count(*) FROM sm_v_${name}_$q JOIN sm_truth USING (doc_a, doc_b))""".stripMargin
      })
    s"""WITH $simhashFpChainSql,
       |sm_truth AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $HammingMax),
       |sm_base AS MATERIALIZED (
       |  SELECT doc_id, 0 AS band, lo AS band_key FROM fp
       |  UNION ALL SELECT doc_id, 1, hi FROM fp),
       |sm_bc AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sm_base a JOIN sm_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |sm_vb AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b FROM sm_bc c
       |  JOIN fp a ON a.doc_id = c.doc_a JOIN fp b ON b.doc_id = c.doc_b
       |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $HammingMax),
       |sm_probe AS (
       |  SELECT t.doc_id, t.b AS gb,
       |    CASE WHEN t.b < 48 THEN 0 ELSE 1 END AS band,
       |    abs(t.s) AS margin,
       |    xor(CASE WHEN t.b < 48 THEN f.lo ELSE f.hi END,
       |        CAST(1 AS BIGINT) << (t.b % 48)) AS probe_key
       |  FROM bits t JOIN fp f USING (doc_id)),
       |sm_ranked AS MATERIALIZED (
       |  SELECT doc_id, band, probe_key,
       |    row_number() OVER (PARTITION BY doc_id, band ORDER BY margin ASC, gb) AS rn_asc,
       |    row_number() OVER (PARTITION BY doc_id, band ORDER BY margin DESC, gb) AS rn_desc
       |  FROM sm_probe),
       |sm_tier AS MATERIALIZED (
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b,
       |    min(a.rn_asc) AS t_margin_asc, min(a.rn_desc) AS t_margin_desc
       |  FROM sm_ranked a JOIN sm_base b
       |    ON a.band = b.band AND a.probe_key = b.band_key AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |$candCtes,
       |$verifiedCtes,
       |sm_g AS (
       |${gradeRows.mkString("\n  UNION ALL\n")})
       |SELECT ranking, flips_q, n_index_rows, n_probe_rows, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true + 0.000000001, 6) AS rec
       |FROM sm_g ORDER BY ranking, flips_q""".stripMargin
  }

  // ---------------------------------------------------------------- №64 dedup_recall
  /** Precision/recall accounting for the hash-based pair-finders — the
    * knn_recall ethos applied to the dedup family: grade the minhash-LSH
    * candidates and the simhash-verified pairs against the EXACT
    * ngram-Jaccard truth set (τ = 3/5 on 5-word grams, PPJoin-verified),
    * all three over the same dup-injected corpus. This is the number a
    * pipeline tunes (K, bands, hamming radius) on — measured, not
    * asserted. Each side's pair frame is grade-time bounded (dup-pair
    * proportional); the totals are single-row aggregations cross-joined
    * (the domain_mix pattern), never a window. */
  def dedupRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // ONE tokenization pass feeds all three finders (truth + minhash +
    // simhash) — each used to re-segment the corpus independently, which
    // tripled the dominant regex/shingle cost of this measurement query.
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val truth = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    def grade(method: String, pairs: DataFrame): DataFrame = {
      val p = graft.CacheRegistry.track(
        pairs.select(col("doc_a"), col("doc_b")).persist())
      p.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(p.join(truth, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit"))))
        .select(lit(method).as("method"), col("n_pairs"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_pairs") + 1e-9, 6).as("prec"),
          round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
    }
    grade("minhash", dedupMinhashFrom(tok))
      .unionAll(grade("simhash", dedupSimhashFrom(tok)))
      .orderBy(col("method"))
  }

  // ---------------------------------------------------------------- №148 lsh_tuning
  /** The BANDING dial of MinHash-LSH — №146 knn_c_sweep's discipline on
    * the dedup side (and the parameter a 100 TB dedup run actually
    * tunes): with K = 12 minhashes, sweep b ∈ [[BandSweep]] bands of
    * r = K/b rows and grade each banding on BOTH sides of the trade —
    * `n_candidates` (distinct pairs the band join emits: the cost — the
    * match probability 1−(1−s^r)^b rises with b) and precision/recall vs
    * the PPJoin-verified truth (№24). The SIGNATURES are computed ONCE
    * ([[minhashSigFrom]] — the frame every banding re-keys), so the sweep
    * adds only band-key projections + bucket joins per point; truth is
    * the №24 frame verbatim (the dedup_recall discipline). Measured at
    * the gate SFs: candidates GROW with b while recall climbs to 1.0 —
    * the curve that justifies №22's b=4 default. */
  val BandSweep: Seq[Int] = Seq(2, 3, 4, 6)

  def lshTuning(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val truth = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    val sig = graft.CacheRegistry.track(minhashSigFrom(tok).persist())
    BandSweep.map { b =>
      val pairs = graft.CacheRegistry.track(
        bandPairsOf(bandRowsOf(sig, b)).select(col("doc_a"), col("doc_b")).persist())
      pairs.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(
          pairs.join(truth, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit"))))
        .select(lit(b).as("bands"), lit(NumHashes / b).as("rows_per_band"),
          col("n_candidates"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / greatest(col("n_candidates"), lit(1L)) + 1e-9, 6).as("prec"),
          round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
    }.reduce(_ unionAll _).orderBy(col("bands"))
  }

  val lshTuningSql: String = {
    def bandRowsSql(b: Int): String = {
      val r = NumHashes / b
      (0 until b).map { i =>
        val key = "md5(" + (i * r until (i + 1) * r).map(k => s"m$k").mkString(" || ") + ")"
        s"SELECT doc_id, $i AS band, $key AS band_key FROM sig"
      }.mkString("\n  UNION ALL ")
    }
    def candSql(b: Int): String =
      s"""cand_b$b AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_b$b a JOIN bands_b$b b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
    val minCols = (0 until NumHashes).map(k => s"min(md5('$k|' || sh)) AS m$k").mkString(",\n    ")
    val gRows = BandSweep.map { b =>
      s"""  SELECT $b AS bands, ${NumHashes / b} AS rows_per_band,
         |    (SELECT count(*) FROM cand_b$b) AS n_candidates,
         |    (SELECT count(*) FROM truth) AS n_true,
         |    (SELECT count(*) FROM cand_b$b JOIN truth USING (doc_a, doc_b)) AS n_hit""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH truth AS (SELECT doc_a, doc_b FROM (${TextQueries.dedupNgramJaccardSql.replace("\n", "\n  ")})),
       |$dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
       |  FROM d WHERE len(ws) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM sh GROUP BY doc_id),
       |${BandSweep.map(b => s"bands_b$b AS (\n  ${bandRowsSql(b)})").mkString(",\n")},
       |${BandSweep.map(candSql).mkString(",\n")},
       |g AS (
       |$gRows)
       |SELECT bands, rows_per_band, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true + 0.000000001, 6) AS rec
       |FROM g ORDER BY bands""".stripMargin
  }

  // ---------------------------------------------------------------- №173 dedup_minhash_multiprobe
  /** MULTI-PROBE LSH for the minhash band family — the recall lever that
    * does NOT grow the index (Lv et al. 2007's query-directed probing,
    * re-derived for minhash banding): №148 shows recall climbs with the
    * band count, but each extra band adds an index row per document —
    * at 100 TB that is index storage and shuffle volume. Multi-probe
    * instead PERTURBS the query side: for each band and each of its r
    * row positions, probe the band key with that position's minhash
    * replaced by the document's SECOND-smallest hash under the same
    * hash function — exactly the key a near-duplicate that lost this
    * document's min-shingle would land on. The index keeps [[Bands]]
    * rows per doc; the probe side issues bands·r extra LOOKUPS per doc
    * (probe rows join the unchanged base keys — an asymmetric join, so
    * a pair is found when either side's perturbation reaches the other).
    *
    * Signatures here are 48-bit NUMERIC minhashes (first 12 hex nibbles
    * of the salted md5 — the simhash parse, exact in a double) so min
    * AND second-min come from ONE aggregation pass:
    * [[graft.functions.TopKByScore]] with k=2 on the negated hash —
    * bounded heap, map-side partials, no second shingle-frame shuffle.
    * (№22's md5-string signature has no one-pass second-min; the
    * numeric re-key is this operator's own format, graded on its own
    * base row.) Output per mode (`base` / `multiprobe`): index rows,
    * probe rows (the lookup bill), candidate pairs, and P/R against the
    * №24 PPJoin truth — the same-corpus, same-truth discipline of №64/
    * №148. Banding is [[MpBands]]=2 (the hard point of №148's sweep;
    * at №22's b=4 this corpus measures recall 1.0 and probing is
    * vacuous). Measured (sf0.01): base b=2 finds 134/139 truth pairs;
    * multi-probe recovers the missing 5 → 139/139 at the SAME 1200
    * index rows (b=4 needs 2400 for that recall), 7200 probe lookups,
    * and precision stays 1.0 — the perturbed keys emit zero junk
    * candidates here because a second-min collision is itself a
    * near-dup signal. Oracle recomputes signatures (min + filtered
    * second-min), both key sets and both candidate joins;
    * MultiprobeSpec pins the direction contracts (recall strictly up,
    * index unchanged, probe bill ≤ bands·r per doc, precision floor). */
  /** The multiprobe row's banding: the HARD point of №148's sweep (b=2,
    * r=6 — where base recall has real headroom; at №22's b=4 the sweep
    * measures recall 1.0 on this corpus and any probing is vacuous). */
  val MpBands = 2
  val MpR: Int = NumHashes / MpBands

  /** Distinct-per-doc word-3-shingle frame (doc_id, sh) — the shared
    * upstream of the signature heaps AND №181's shingle document
    * frequencies (DF = count(*) over this frame, since each (doc, sh)
    * appears once). */
  private def mpShingles(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tok
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])))")).as("sh"))

  /** 12 hash columns per shingle row (NO ×K row explode — the heaps run
    * as K wide aggregate columns over the same frame). Keeps `sh` so
    * №181 can identify the argmin shingle. */
  private def mpHashWide(sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sh.select(col("doc_id") +: col("sh") +: (0 until NumHashes).map(k =>
      expr(s"CAST(conv(substring(md5(concat('$k|', sh)), 1, 12), 16, 10) AS BIGINT)").as(s"h$k")): _*)

  /** The 48-bit (min, second-min) signature frame (doc_id, m0..s11) —
    * ONE definition for №173, №174 and №181 (callers persist). */
  private[graft] def mpSigFrom(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mpSigFromHw(mpHashWide(mpShingles(tok)))

  /** Signature aggregation over an ALREADY-WIDENED hash frame — split
    * out so the DF-ranked paths (№181/№183) can persist ONE hash-wide
    * frame and feed both the signature and the DF chain from it: the
    * 12-way md5 widening is the dominant compute of the whole multiprobe
    * family, and the tok-based entry point ran it twice in budget mode
    * (once under mpSigFrom's own shingle scan, once in mpProbeRowsDf). */
  private def mpSigFromHw(hwIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // min + second-min in ONE pass: top-2 by score = −h (48-bit ⇒ exact
    // in the double score), heap partials map-side
    val hw = hwIn.drop("sh")
    // DISTINCT top-2: the oracle's mp_m2 is min(h) WHERE h > m — the
    // second DISTINCT hash — so a within-doc 48-bit collision must not
    // yield s = m (gap 0, probe key == base key, a latent cross-engine
    // divergence that fires probabilistically at large corpora)
    val heaps = (0 until NumHashes).map(k =>
      graft.functions.TopKByScore.topKDistinct((-col(s"h$k")).cast("double"), col(s"h$k"), 2).as(s"t$k"))
    hw.groupBy(col("doc_id")).agg(heaps.head, heaps.tail: _*)
      .select(col("doc_id") +: (0 until NumHashes).flatMap(k => Seq(
        col(s"t$k")(0)("id").as(s"m$k"),
        when(size(col(s"t$k")) >= 2, col(s"t$k")(1)("id")).as(s"s$k"))): _*)
  }

  private def mpKeyOf(cols: Seq[Column]): Column =
    md5(concat_ws("|", cols.map(_.cast("string")): _*))

  /** Base band keys over the (m, s) signature frame. */
  private[graft] def mpBaseRows(sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    (0 until MpBands).map { b =>
      sig.select(col("doc_id"), lit(b).as("band"),
        mpKeyOf((b * MpR until (b + 1) * MpR).map(k => col(s"m$k"))).as("band_key"))
    }.reduce(_ unionAll _)

  /** Perturbed probe keys with their GAP (second-min − min at the swapped
    * position — №174's ranking statistic: a small gap means the swap is
    * the likely value for a near-dup) and the (band, j) tiebreak cols. */
  private def mpProbeRows(sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    (0 until MpBands).flatMap { b =>
      (0 until MpR).map { j =>
        val pos = b * MpR + j
        val perturbed = (b * MpR until (b + 1) * MpR).map(k =>
          if (k == pos) col(s"s$k") else col(s"m$k"))
        sig.filter(col(s"s$pos").isNotNull)
          .select(col("doc_id"), lit(b).as("band"), lit(j).as("j"),
            mpKeyOf(perturbed).as("band_key"),
            (col(s"s$pos") - col(s"m$pos")).as("gap"))
      }
    }.reduce(_ unionAll _)

  /** Probe pairs from a probe-row frame vs the (cap-honoring) base keys:
    * capping the base side bounds candidates at probeRows·cap (linear) —
    * without it a boilerplate bucket probed by its whole template
    * cluster re-grows the quadratic term the cap exists to kill. */
  private def mpProbeCand(probeRows: org.apache.spark.sql.DataFrame,
                          baseRows: org.apache.spark.sql.DataFrame,
                          carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    bandProbePairs(probeRows, cappedBandRows(baseRows), carry = carry)

  /** №173's candidate GENERATION as a pair-finding mode for
    * [[CurationQueries.dedupPipeline]]: base band pairs ∪ multiprobe
    * pairs, deduped — candidates only; the pipeline verifies them with
    * the same exact τ=3/5 test as the PPJoin mode
    * ([[TextQueries.verifyPairsOf]]). Honors [[BucketCapConfKey]] on
    * BOTH joins (bucket self-join and the probe join's base side). A
    * `budget` T > 0 (№183) spends only the top-T DF-ranked probes per doc
    * (№181's rare-first ranking — the measured front-loader), cutting the
    * probe bill from bands·r·docs to T·docs; 0 probes every key. */
  private[graft] def mpCandidatesFrom(tok: org.apache.spark.sql.DataFrame,
                                      budget: Int = 0): org.apache.spark.sql.DataFrame = {
    val (sig, probes) =
      if (budget <= 0) {
        val sig = graft.CacheRegistry.track(mpSigFrom(tok).persist())
        (sig, mpProbeRows(sig))
      } else {
        // ONE persisted signature+DF frame feeds the base keys AND the
        // probe ranking (r13 verdict 6: the signature and DF chains each
        // built their own shingle scan + widening before). The shingle
        // frame itself is persisted too — mpSigDfFrom consumes it TWICE
        // (the per-shingle DF count and the annotate join), and
        // unpersisted the explode ran twice (r15: the comment on
        // mpProbeRowsDf promised this persist; the budget entry point
        // never did it)
        val shingles = graft.CacheRegistry.track(mpShingles(tok).persist())
        val sigd = graft.CacheRegistry.track(mpSigDfFrom(shingles).persist())
        (sigd, mpProbeRowsDf(sigd)
          .withColumn("pr", row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("df"), col("band"), col("j"))))
          .filter(col("pr") <= budget))
      }
    val baseRows = graft.CacheRegistry.track(mpBaseRows(sig).persist())
    bandPairsOf(baseRows).select(col("doc_a"), col("doc_b"))
      .unionAll(mpProbeCand(probes, baseRows))
      .distinct()
  }

  def dedupMinhashMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val truth = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    val sig = graft.CacheRegistry.track(mpSigFrom(tok).persist())
    val baseRows = graft.CacheRegistry.track(mpBaseRows(sig).persist())
    val probeRows = graft.CacheRegistry.track(mpProbeRows(sig).persist())
    val baseCand = graft.CacheRegistry.track(
      bandPairsOf(baseRows).select(col("doc_a"), col("doc_b")).persist())
    val mpCand = graft.CacheRegistry.track(
      baseCand.unionAll(mpProbeCand(probeRows, baseRows)).distinct().persist())
    def grade(mode: String, pairs: DataFrame, probeBill: Column): DataFrame =
      pairs.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(baseRows.agg(count(lit(1)).as("n_index_rows"))))
        .crossJoin(broadcast(probeRows.agg(probeBill.cast("long").as("n_probe_rows"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(pairs.join(broadcast(truth), Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit"))))
        .select(lit(mode).as("mode"), col("n_index_rows"), col("n_probe_rows"),
          col("n_candidates"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / greatest(col("n_candidates"), lit(1L)) + 1e-9, 6).as("prec"),
          round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
    grade("base", baseCand, count(lit(1)) * 0)
      .unionAll(grade("multiprobe", mpCand, count(lit(1))))
      .orderBy(col("mode"))
  }

  // ---------------------------------------------------------------- №174 dedup_multiprobe_ranked
  /** RANKED multi-probe — the probe-BUDGET dial №173 flattens, testing
    * whether Lv et al. 2007's query-directed ranking transfers from
    * p-stable LSH to minhash banding: rank each document's bands·r
    * perturbed keys by the min→second-min GAP at the swapped position
    * (the natural analogue of Lv's boundary-distance score) and spend
    * only the top-T lookups. Ranking is per-document (row_number over
    * (gap, band, j) — bounded window, bands·r rows per doc), so the
    * probe bill becomes exactly T·docs.
    *
    * The measured answer is a NEGATIVE result worth publishing: recall
    * climbs roughly LINEARLY with T (sf0.01: 0/5 missed pairs recovered
    * at T=2, 2/5 at T=4, 4/5 at T=8, 5/5 at T=12) — the gap proxy
    * front-loads almost nothing. And the theory agrees, which is the
    * point: for minhash, the neighbor's minhash becomes our second-min
    * when the neighbor LACKS our min-shingle — an event whose
    * probability (≈1−τ per hash) is INDEPENDENT of where our two
    * smallest hashes happen to sit in the hash space. Boundary distance
    * is informative exactly when the hash preserves metric structure
    * (p-stable projections); minhash's is exchangeable, so ranked
    * probing degenerates to truncation and the budget curve — not the
    * ranking — is the real product. A deployment tunes T on this curve
    * (probe bill = T·docs against measured recall) instead of assuming
    * Lv's dial transfers.
    *
    * Output: one row per T ∈ 0 (base) ∪ [[MpProbeSweep]] ∪ bands·r
    * (№173's all-probes ceiling); machinery is №173's shared frames
    * verbatim (one signature pass, one probe-key frame; each budget
    * filters `pr ≤ T` before the same capped probe join). Oracle
    * mirrors the ranking with the same tiebreak; MultiprobeSpec pins
    * monotone recall in T and endpoint agreement with №173's row. */
  val MpProbeSweep: Seq[Int] = Seq(2, 4, 8)

  def dedupMultiprobeRanked(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val truth = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    val sig = graft.CacheRegistry.track(mpSigFrom(tok).persist())
    val baseRows = graft.CacheRegistry.track(mpBaseRows(sig).persist())
    val ranked = graft.CacheRegistry.track(mpProbeRows(sig)
      .withColumn("pr", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("gap"), col("band"), col("j"))))
      .persist())
    val baseCand = graft.CacheRegistry.track(
      bandPairsOf(baseRows).select(col("doc_a"), col("doc_b")).persist())
    // ONE probe join for every budget: each probe-found pair carries its
    // TIER (the smallest budget that reaches it — min matching pr);
    // budget T's candidate set is then a filter, not a re-join
    val probeTier = graft.CacheRegistry.track(
      mpProbeCand(ranked, baseRows, Seq("pr"))
        .groupBy(col("doc_a"), col("doc_b")).agg(min(col("pr")).as("tier"))
        .persist())
    def grade(t: Int, pairs: DataFrame, bill: Column): DataFrame =
      pairs.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(ranked.agg(bill.cast("long").as("n_probe_rows"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(pairs.join(broadcast(truth), Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit"))))
        .select(lit(t.toLong).as("probes_t"), col("n_probe_rows"),
          col("n_candidates"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / greatest(col("n_candidates"), lit(1L)) + 1e-9, 6).as("prec"),
          round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
    val budgets = MpProbeSweep :+ (MpBands * MpR)
    val rows = grade(0, baseCand, count(lit(1)) * 0) +: budgets.map { t =>
      val cand = graft.CacheRegistry.track(baseCand
        .unionAll(probeTier.filter(col("tier") <= t).select(col("doc_a"), col("doc_b")))
        .distinct().persist())
      grade(t, cand, sum(when(col("pr") <= t, 1L).otherwise(0L)))
    }
    rows.reduce(_ unionAll _).orderBy(col("probes_t"))
  }

  // ---------------------------------------------------------------- №181 dedup_multiprobe_dfrank
  /** DF-RANKED multi-probe — №174's own named successor: the gap proxy
    * is provably uninformative for minhash (exchangeable hash space), so
    * rank the perturbations by a statistic that DOES carry per-position
    * swap likelihood — the min-shingle's corpus DOCUMENT FREQUENCY.
    * Probing position k recovers a neighbor exactly when the neighbor
    * LACKS our argmin shingle there: a shingle shared corpus-wide
    * (template/boilerplate, high DF) is almost surely in the near-dup
    * too (probe wasted), while a doc-local shingle (DF≈1 — the mutated
    * region) is exactly what a near-dup is missing (probe valuable).
    * So rank RARE-FIRST and measure whether recall front-loads.
    *
    * Cost of the score: one extra bounded join at signature time — DF is
    * count(*) over the distinct-(doc,shingle) frame (the frame the
    * signature pass already builds), joined back on the shingle key; the
    * min-shingle's DF then falls out of the SAME per-doc aggregation
    * shape as the heaps (min(df) over the argmin set {sh : h_k = m_k} —
    * the min-over-ties form is deterministic in both engines, no
    * arg_min tie ambiguity). At 100 TB the DF join is shingle-frame
    * sized — the scale of the signature pass itself, one extra shuffle,
    * and a Count-Min sketch would approximate it broadcast-side if that
    * shuffle ever mattered.
    *
    * Output: one row per (ranking ∈ gap | df_rare | df_common) ×
    * (T ∈ [[MpProbeSweep]] ∪ bands·r) plus the shared T=0 base row —
    * `gap` is №174's curve re-derived on the same frames (the on-row
    * comparator), `df_common` the deliberate wrong-direction control.
    * All three rankings number the SAME probe rows, so the probe bill
    * depends only on T and the T=bands·r rows agree across rankings
    * (№173's ceiling) — both pinned in MultiprobeSpec. Measured
    * (sf0.01): df_rare recovers all 5 base-missed pairs at T=2 (rec
    * 1.0 at a 2·docs lookup bill) where gap climbs linearly (136/138/
    * 139 at T=4/8/12) and df_common stays at BASE recall through T=4
    * and only completes at T=12 — the informative-score front-loading
    * №174's negative result predicted was available, with the
    * direction confirmed by the control inverting it. */
  /** DF of the argmin shingle per hash position (doc_id, df0..df11): DF
    * per shingle (count over the distinct-per-doc frame), joined to the
    * hash-wide frame, then min(df) over {sh : h_k = m_k} per doc — ties
    * resolved by min, identical semantics to the oracle's WHERE h = m
    * GROUP BY form. Shared by №181 and №183's budgeted pipeline mode. */
  /** Signature AND per-position argmin-DF in ONE widening + ONE groupBy
    * (doc_id, m0..s11, df0..df11). df_k = min df among the rows
    * achieving the per-doc min of h_k — min(struct(h_k, df)) per
    * position: the struct's lexicographic ordering finds the argmin
    * hash and breaks df ties by min inside the same partial-aggregating
    * pass as the (min, second-min-distinct) heaps. This replaces the
    * r13 shape (a SECOND widening, a shuffle of the 12-hash frame by
    * sh, and a signature join by doc_id followed by min(when(h=m))) —
    * the budget mode's extra bill over the plain multiprobe pipeline is
    * now just the narrow (sh → df) count shuffle and its n:1 join back
    * (r13 verdict item 6; semantics identical, oracle unchanged). */
  private def mpSigDfFrom(shingles: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dfBySh = shingles.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val annotated = shingles.join(dfBySh, "sh")
    val hwDf = annotated.select(col("doc_id") +: col("df") +: (0 until NumHashes).map(k =>
      expr(s"CAST(conv(substring(md5(concat('$k|', sh)), 1, 12), 16, 10) AS BIGINT)").as(s"h$k")): _*)
    val heaps = (0 until NumHashes).map(k =>
      graft.functions.TopKByScore.topKDistinct((-col(s"h$k")).cast("double"), col(s"h$k"), 2).as(s"t$k"))
    val dfAggs = (0 until NumHashes).map(k =>
      min(struct(col(s"h$k"), col("df"))).getField("df").as(s"d$k"))
    val aggs = heaps ++ dfAggs
    hwDf.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: (0 until NumHashes).flatMap(k => Seq(
        col(s"t$k")(0)("id").as(s"m$k"),
        when(size(col(s"t$k")) >= 2, col(s"t$k")(1)("id")).as(s"s$k"),
        col(s"d$k").as(s"df$k"))): _*)
  }

  /** Probe rows carrying BOTH ranking statistics (gap + df at the swapped
    * position) — №181 numbers them three ways, №183 only rare-first.
    * The shingle frame is persisted so the 12-hash md5 widening
    * ([[mpHashWide]]) and the DF count read ONE materialization — without
    * it the DF leg recomputes the full hash pass a second time (measured
    * ~2× the signature cost at adversarial ×10). */
  private def mpProbeRowsDf(sigd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // caller persists sigd ([[mpSigDfFrom]]): the 12 per-position probe
    // selects below each scan this frame — unpersisted, every one of
    // them would recompute the whole DF chain (measured 12× ≈ +35s at
    // adversarial ×10)
    (0 until MpBands).flatMap { b =>
      (0 until MpR).map { j =>
        val pos = b * MpR + j
        val perturbed = (b * MpR until (b + 1) * MpR).map(k =>
          if (k == pos) col(s"s$k") else col(s"m$k"))
        sigd.filter(col(s"s$pos").isNotNull)
          .select(col("doc_id"), lit(b).as("band"), lit(j).as("j"),
            mpKeyOf(perturbed).as("band_key"),
            (col(s"s$pos") - col(s"m$pos")).as("gap"),
            col(s"df$pos").as("df"))
      }
    }.reduce(_ unionAll _)
  }

  def dedupMultiprobeDfrank(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val truth = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    val sigd = graft.CacheRegistry.track(mpSigDfFrom(mpShingles(tok)).persist())
    val baseRows = graft.CacheRegistry.track(mpBaseRows(sigd).persist())
    val baseCand = graft.CacheRegistry.track(
      bandPairsOf(baseRows).select(col("doc_a"), col("doc_b")).persist())
    // one row_number per ranking over the same (band, j) tiebreak — the
    // bill column is ranking-independent
    val probe = mpProbeRowsDf(sigd)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = graft.CacheRegistry.track(probe
      .withColumn("pr_gap", row_number().over(w.orderBy(col("gap"), col("band"), col("j"))))
      .withColumn("pr_rare", row_number().over(w.orderBy(col("df"), col("band"), col("j"))))
      .withColumn("pr_common", row_number().over(w.orderBy(col("df").desc, col("band"), col("j"))))
      .persist())
    // ONE capped probe join for all rankings and budgets: each found pair
    // carries its per-ranking TIER; a (ranking, T) candidate set is then
    // a filter over this frame (№174's tier discipline, widened)
    val probeTier = graft.CacheRegistry.track(
      mpProbeCand(ranked, baseRows, Seq("pr_gap", "pr_rare", "pr_common"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("pr_gap")).as("t_gap"), min(col("pr_rare")).as("t_rare"),
          min(col("pr_common")).as("t_common"))
        .persist())
    val budgets = MpProbeSweep :+ (MpBands * MpR)
    val rankings = Seq("gap" -> "t_gap", "df_rare" -> "t_rare", "df_common" -> "t_common")
    // Grade the WHOLE (ranking × budget) grid in one conditional-
    // aggregation pass (r13 verdict item 6: this row was the sweep's
    // most expensive at 45.8s, and the bill was the eval grid — 12
    // per-cell union+distinct frames, each with its own truth join and
    // four scalar-agg readouts, re-counting the same pairs). probeTier
    // and baseCand are already distinct-pair frames, so every cell is
    // base ∪ {probe-found extras at tier ≤ T}: count the extras ONCE
    // with a left-anti + truth flag, then every cell is two
    // sum(when(...)) aggregates over that one frame. Output rows are
    // value-identical to the per-cell form; the oracle is unchanged.
    val extras = probeTier
      .join(baseCand.select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_anti")
      .join(broadcast(truth.select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))),
        Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("is_true"))
    val cellAggs = (for { (_, tcol) <- rankings; t <- budgets } yield Seq(
      sum(when(col(tcol) <= t, 1L).otherwise(0L)).as(s"cand_${tcol}_$t"),
      sum(when(col(tcol) <= t, col("is_true")).otherwise(0L)).as(s"hit_${tcol}_$t"))).flatten
    val grid = extras.agg(cellAggs.head, cellAggs.tail: _*).collect()(0)
    // probe bill per T: ranking-independent (each ranking permutes the
    // same per-doc probe rows), so ONE agg over `ranked` covers all
    val billAggs = budgets.map(t =>
      sum(when(col("pr_gap") <= t, 1L).otherwise(0L)).as(s"bill_$t"))
    val bill = ranked.agg(billAggs.head, billAggs.tail: _*).collect()(0)
    val scalars = baseCand
      .join(broadcast(truth.select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))),
        Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("is_true"))
      .agg(count(lit(1)).as("n_base"), sum(col("is_true")).as("n_base_hit"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true")))).collect()(0)
    val (nBase, nBaseHit, nTrue) = (scalars.getAs[Long]("n_base"),
      scalars.getAs[Long]("n_base_hit"), scalars.getAs[Long]("n_true"))
    val rows = ("base", 0L, 0L, nBase, nTrue, nBaseHit) +:
      (for { (name, tcol) <- rankings; t <- budgets } yield
        (name, t.toLong, bill.getAs[Long](s"bill_$t"),
          nBase + grid.getAs[Long](s"cand_${tcol}_$t"), nTrue,
          nBaseHit + grid.getAs[Long](s"hit_${tcol}_$t")))
    import spark.implicits._
    rows.toDF("ranking", "probes_t", "n_probe_rows", "n_candidates", "n_true", "n_hit")
      .select(col("ranking"), col("probes_t"), col("n_probe_rows"),
        col("n_candidates"), col("n_true"), col("n_hit"),
        round(col("n_hit").cast("double") / greatest(col("n_candidates"), lit(1L)) + 1e-9, 6).as("prec"),
        round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
      .orderBy(col("ranking"), col("probes_t"))
  }

  // ---------------------------------------------------------------- №187 dedup_incremental_minhash
  /** INCREMENTAL NEAR-DUP DEDUP AGAINST A PERSISTED BANDED INDEX —
    * №66's daily-crawl shape carried from exact to NEAR-dup, and the
    * deployment where №183's probe budget actually wins. The base
    * corpus's band rows are built ONCE into a bucketed+sorted table
    * ([[graft.sources.Bucketing.bucketedCached]], keyed by the band key
    * — the №119 discipline for text): every nightly batch then joins
    * its lookup keys against the co-located index with NO base-side
    * exchange, and the lookup bill — the term that dominates when the
    * index is 100 TB-sized — is exactly what the row meters. SEVEN
    * modes graded on one row (r13's three + the r14 verdict's tie-break
    * and radius/index-side asks): `base_only` (2 keys/doc), `mp_budget`
    * (+T=2 rare-first DF-ranked probes/doc — DF over the BATCH's own
    * shingles), `mp_budget_gap` (DF ties broken by the second-min gap),
    * `mp_budget_ix` (DF ties broken by INDEX bucket density: the 12
    * radius-1 keys are pre-checked against the index's bucket-count
    * table — a bounded co-located aggregation, broadcastable as a
    * CMS/Bloom at 100 TB — and existing buckets rank first; the
    * pre-pass is metered in its own n_count_lookups column, never
    * free), `mp_full` (+12/doc), `mp_radius2` (+12+2·C(6,2)=42/doc,
    * both positions of a band swapped), and `index_side` (the index
    * materializes its OWN radius-1 probe rows at build time: batch pays
    * the plain 2 keys/doc, the index grows (2+12)/2 = 7×).
    *
    * Measured at both gate SFs, published whichever way it lands
    * (№174's discipline): (a) the DENSITY tie-break is the POSITIVE —
    * `mp_budget_ix` reaches `mp_full`'s recall at T=2 at BOTH SFs
    * (sf0.01: 112/114 at 400 main lookups vs full's 1400; sf0.1:
    * 1106/1109 at 4k vs 14k) — index-side knowledge is exactly what
    * one-directional probing lacked, r13's measured gap closed; (b) the
    * GAP tie-break is the NEGATIVE — ≤ plain DF at both SFs (sf0.1:
    * 1100 vs 1103 — it actively re-orders working DF picks), №174's
    * original verdict on the gap statistic confirmed one-directional;
    * (c) radius-2 pays 3.1× full's bill for ≤1 extra pair (sf0.1:
    * 1107 at 44k lookups; sf0.01: +0 — the 2 stubborn pairs there are
    * beyond ANY query-side radius, their band keys share no batch-side
    * second-min); (d) `index_side` is the only mode that catches those
    * (sf0.01: 113/114 at the BASE bill — it probes from the index end,
    * where the needed second-mins live), at a 7× index and the weakest
    * sf0.1 tail (1092: base-side probes can't see batch-side losses).
    * The deployment reading: density-tie-broken budget probing is the
    * nightly dial; index-side rows are the lever when the index can
    * afford 7× storage and the batch bill is the constraint. Candidates
    * verify with the exact τ=3/5 test against the №24 truth restricted
    * to (base × batch) pairs. The oracle rebuilds the index keys (both
    * indexes), bucket counts, all three rankings, radius-2 keys,
    * per-mode lookups and verification; IncrementalMinhashSpec pins all
    * seven bills exactly, the count-table pre-pass metering, recall/
    * candidate monotonicity, and the probe-augmented index's exact row
    * count. */
  def dedupIncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val baseTok = tok.filter(col("doc_id") < IncBatchMin)
    val batchTok = graft.CacheRegistry.track(tok.filter(col("doc_id") >= IncBatchMin).persist())
    val truth = graft.CacheRegistry.track(TextQueries.dedupNgramJaccardFrom(tok)
      .filter(col("doc_a") < IncBatchMin && col("doc_b") >= IncBatchMin)
      .select(col("doc_a"), col("doc_b")).persist())
    // the PERSISTED index: base band rows bucketed+sorted on the band key
    // — built once per corpus version, then every batch reads co-located.
    // ONE persisted base signature pass feeds BOTH index builds (the
    // plain and the probe-augmented table previously each ran the full
    // 12-hash widening over the base corpus — the dominant build cost,
    // paid twice).
    val sigBase = graft.CacheRegistry.track(mpSigFrom(baseTok).persist())
    val table = s"graft_mh_index_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val index = graft.sources.Bucketing.bucketedCached(spark, table, "bk") {
      mpBaseRows(sigBase)
        .select(col("doc_id"), concat_ws(":", col("band"), col("band_key")).as("bk"))
    }
    // r14 mode `index_side`: the probe-AUGMENTED index — base band rows
    // ∪ the BASE docs' own radius-1 probe rows, materialized at
    // index-build time. The nightly bill stays one-sided (batch pays
    // its 2 base keys only); the 7× index growth is the mode's cost and
    // its n_index_rows column says so.
    val tableP = s"graft_mh_indexp_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val indexP = graft.sources.Bucketing.bucketedCached(spark, tableP, "bk") {
      mpBaseRows(sigBase)
        .select(col("doc_id"), concat_ws(":", col("band"), col("band_key")).as("bk"))
        .unionAll(mpProbeRows(sigBase)
          .select(col("doc_id"), concat_ws(":", col("band"), col("band_key")).as("bk")))
    }
    val sigBatch = graft.CacheRegistry.track(mpSigDfFrom(mpShingles(batchTok)).persist())
    val baseKeys = graft.CacheRegistry.track(mpBaseRows(sigBatch)
      .select(col("doc_id"), concat_ws(":", col("band"), col("band_key")).as("bk")).persist())
    // bucket-density table for the `mp_budget_ix` tie-break: one bounded
    // aggregation over the bucketed index (co-located groupBy — no
    // exchange); at 100 TB this is the broadcastable CMS/Bloom summary
    // a serving tier would hold in memory
    val wdoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ctab = index.groupBy(col("bk")).agg(count(lit(1)).as("bn"))
    val probeAll = graft.CacheRegistry.track(mpProbeRowsDf(sigBatch)
      .withColumn("bk", concat_ws(":", col("band"), col("band_key")))
      .join(ctab, Seq("bk"), "left").na.fill(0L, Seq("bn"))
      .withColumn("pr", row_number().over(wdoc.orderBy(col("df"), col("band"), col("j"))))
      .withColumn("pr_gap", row_number().over(wdoc.orderBy(col("df"), col("gap"), col("band"), col("j"))))
      .withColumn("pr_ix", row_number().over(wdoc.orderBy(
        when(col("bn") > 0, 0).otherwise(1), col("df"), col("band"), col("j"))))
      .select(col("doc_id"), col("bk"), col("pr"), col("pr_gap"), col("pr_ix"))
      .persist())
    // radius-2 probe keys: BOTH of two positions in a band swapped to
    // their second-mins — C(r,2)=15 keys per band, 30 per doc
    val r2Keys = graft.CacheRegistry.track((0 until MpBands).flatMap { b =>
      val pos = b * MpR until (b + 1) * MpR
      for { p1 <- pos; p2 <- pos if p1 < p2 } yield {
        val perturbed = pos.map(k => if (k == p1 || k == p2) col(s"s$k") else col(s"m$k"))
        sigBatch.filter(col(s"s$p1").isNotNull && col(s"s$p2").isNotNull)
          .select(col("doc_id"), concat_ws(":", lit(b), mpKeyOf(perturbed)).as("bk"))
      }
    }.reduce(_ unionAll _).persist())
    val sh5 = graft.CacheRegistry.track(TextQueries.shingleFrameOf(tok).persist())
    // FUSED GRADING (r14 follow-through on the r13 verdict-6 discipline):
    // the per-mode `grade()` form ran ~50 driver-compiled jobs (7 modes ×
    // {candidate join, verify, 5 scalar-agg readouts}) over heavily
    // overlapping key sets — at sf0.1 the wall was plan compilation, not
    // data. Here every key row carries its MODE MEMBERSHIP as flags, ONE
    // join against each index produces per-pair flag maxima, ONE verify
    // pass covers the superset (radius-2 ⊇ every other index-target
    // mode), and every per-mode count is a conditional aggregation over
    // the two small pair frames. Output rows are value-identical to the
    // per-mode form; the oracle is unchanged.
    val budget = MpDefaultBudget
    val f = (c: Column) => c.cast("long")
    val keysTagged =
      baseKeys.select(col("doc_id"), col("bk"), lit(1L).as("m_base"), lit(1L).as("m_bud"),
          lit(1L).as("m_gap"), lit(1L).as("m_ix"), lit(1L).as("m_full"), lit(1L).as("m_r2"))
        .unionAll(probeAll.select(col("doc_id"), col("bk"), lit(0L).as("m_base"),
          f(col("pr") <= budget).as("m_bud"), f(col("pr_gap") <= budget).as("m_gap"),
          f(col("pr_ix") <= budget).as("m_ix"), lit(1L).as("m_full"), lit(1L).as("m_r2")))
        .unionAll(r2Keys.select(col("doc_id"), col("bk"), lit(0L).as("m_base"), lit(0L).as("m_bud"),
          lit(0L).as("m_gap"), lit(0L).as("m_ix"), lit(0L).as("m_full"), lit(1L).as("m_r2")))
    val flags = Seq("m_base", "m_bud", "m_gap", "m_ix", "m_full", "m_r2")
    def pairFlags(keys: DataFrame, idx: DataFrame): DataFrame =
      keys.as("a").join(idx.as("b"), col("a.bk") === col("b.bk"))
        .groupBy(col("b.doc_id").as("doc_a"), col("a.doc_id").as("doc_b"))
        .agg(max(col(flags.head)).as(flags.head),
          flags.tail.map(m => max(col(m)).as(m)): _*)
    // index-target modes: one join; index_side: one more (base keys only)
    val pairs = graft.CacheRegistry.track(pairFlags(keysTagged, index).persist())
    val pairsP = graft.CacheRegistry.track(
      pairFlags(baseKeys.select(col("doc_id") +: col("bk") +: flags.map(m => lit(1L).as(m)): _*),
        indexP).persist())
    // ONE verify pass per pair frame; truth membership as a flag
    def hitFlagged(p: DataFrame): DataFrame = p
      .join(TextQueries.verifyPairsOf(sh5, p.select(col("doc_a"), col("doc_b")))
        .select(col("doc_a"), col("doc_b"), lit(1L).as("ver")), Seq("doc_a", "doc_b"), "left")
      .join(broadcast(truth.select(col("doc_a"), col("doc_b"), lit(1L).as("tr"))),
        Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("ver", "tr"))
    val gAggs = flags.flatMap(m => Seq(
      sum(col(m)).as(s"cand_$m"),
      sum(col(m) * col("ver") * col("tr")).as(s"hit_$m")))
    val g = hitFlagged(pairs).agg(gAggs.head, gAggs.tail: _*).collect()(0)
    val gP = hitFlagged(pairsP).agg(
      count(lit(1)).as("cand"), sum(col("ver") * col("tr")).as("hit")).collect()(0)
    // bills: every mode's key count in ONE conditional agg; the density
    // tie-break's count-table pre-pass (12 probe keys/doc against ctab)
    // is probeAll's row count — metered, never free
    val billAggs = flags.map(m => sum(col(m)).as(s"lk_$m")) :+
      sum(col("m_full") - col("m_base")).as("n_probe_rows")
    val bills = keysTagged.agg(billAggs.head, billAggs.tail: _*).collect()(0)
    val scalars = index.agg(count(lit(1)).as("ni"))
      .crossJoin(broadcast(indexP.agg(count(lit(1)).as("nip"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("nt")))).collect()(0)
    val (nIdx, nIdxP, nTrue) = (scalars.getAs[Long]("ni"), scalars.getAs[Long]("nip"),
      scalars.getAs[Long]("nt"))
    val modeRows = Seq(
      ("base_only", nIdx, bills.getAs[Long]("lk_m_base"), 0L,
        g.getAs[Long]("cand_m_base"), g.getAs[Long]("hit_m_base")),
      ("index_side", nIdxP, bills.getAs[Long]("lk_m_base"), 0L,
        gP.getAs[Long]("cand"), gP.getAs[Long]("hit")),
      ("mp_budget", nIdx, bills.getAs[Long]("lk_m_bud"), 0L,
        g.getAs[Long]("cand_m_bud"), g.getAs[Long]("hit_m_bud")),
      ("mp_budget_gap", nIdx, bills.getAs[Long]("lk_m_gap"), 0L,
        g.getAs[Long]("cand_m_gap"), g.getAs[Long]("hit_m_gap")),
      ("mp_budget_ix", nIdx, bills.getAs[Long]("lk_m_ix"), bills.getAs[Long]("n_probe_rows"),
        g.getAs[Long]("cand_m_ix"), g.getAs[Long]("hit_m_ix")),
      ("mp_full", nIdx, bills.getAs[Long]("lk_m_full"), 0L,
        g.getAs[Long]("cand_m_full"), g.getAs[Long]("hit_m_full")),
      ("mp_radius2", nIdx, bills.getAs[Long]("lk_m_r2"), 0L,
        g.getAs[Long]("cand_m_r2"), g.getAs[Long]("hit_m_r2")))
    import spark.implicits._
    modeRows.toDF("mode", "n_index_rows", "n_lookups", "n_count_lookups", "n_candidates", "n_hit_raw")
      .select(col("mode"), col("n_index_rows"), col("n_lookups"), col("n_count_lookups"),
        col("n_candidates"), lit(nTrue).as("n_true"), col("n_hit_raw").as("n_hit"))
      .select(col("mode"), col("n_index_rows"), col("n_lookups"), col("n_count_lookups"),
        col("n_candidates"), col("n_true"), col("n_hit"),
        round(col("n_hit").cast("double") / greatest(col("n_candidates"), lit(1L)) + 1e-9, 6).as("prec"),
        round(col("n_hit").cast("double") / col("n_true") + 1e-9, 6).as("rec"))
      .orderBy(col("mode"))
  }
  val IncBatchMin = 1000000L

  /** Bench hook: drop №187's persisted banded index (№162 cold-build
    * discipline). */
  def dropIncrementalMinhashCaches(spark: SparkSession, dir: String): Unit = {
    Seq(s"graft_mh_index_${dir.replaceAll("[^a-zA-Z0-9]", "_")}",
        s"graft_mh_indexp_${dir.replaceAll("[^a-zA-Z0-9]", "_")}").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val path = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_bucketed", t)
      if (java.nio.file.Files.exists(path)) graft.Fs.rmTree(path)
    }
  }

  val dedupIncrementalMinhashSql: String = {
    val dfPivot = (0 until NumHashes).map(k =>
      s"max(CASE WHEN k = $k THEN mdf END) AS df$k").mkString(",\n    ")
    val dfCase = "CASE p.band * " + MpR + " + p.j " +
      (0 until NumHashes).map(k => s"WHEN $k THEN s.df$k").mkString(" ") + " END"
    val budget = MpDefaultBudget
    def keySql(cols: Seq[String]): String =
      "md5(" + cols.map(c => s"CAST($c AS VARCHAR)").mkString(" || '|' || ") + ")"
    val r2Rows = (0 until MpBands).flatMap { b =>
      val pos = b * MpR until (b + 1) * MpR
      for { p1 <- pos; p2 <- pos if p1 < p2 } yield
        s"SELECT doc_id, $b AS band, ${keySql(pos.map(k => if (k == p1 || k == p2) s"s$k" else s"m$k"))} AS band_key " +
          s"FROM mp_sig WHERE s$p1 IS NOT NULL AND s$p2 IS NOT NULL AND doc_id >= $IncBatchMin"
    }.mkString("\n  UNION ALL ")
    def candCte(mode: String, keySrc: String, idxSrc: String): String =
      s"""ic_c_$mode AS MATERIALIZED (
         |  SELECT DISTINCT b.doc_id AS doc_a, a.doc_id AS doc_b
         |  FROM $keySrc a JOIN $idxSrc b ON a.band = b.band AND a.band_key = b.band_key),
         |ic_v_$mode AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM ic_c_$mode c JOIN ic_s5 sa ON sa.doc_id = c.doc_a JOIN ic_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    def gradeRow(mode: String, idxSrc: String, billSql: String, ctabSql: String): String =
      s"""  SELECT '$mode' AS mode,
         |    (SELECT count(*) FROM $idxSrc) AS n_index_rows,
         |    ($billSql) AS n_lookups,
         |    ($ctabSql) AS n_count_lookups,
         |    (SELECT count(*) FROM ic_c_$mode) AS n_candidates,
         |    (SELECT count(*) FROM ic_truth) AS n_true,
         |    (SELECT count(*) FROM ic_v_$mode JOIN ic_truth USING (doc_a, doc_b)) AS n_hit""".stripMargin
    s"""WITH ${mpChainSql},
       |ic_truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM truth WHERE doc_a < $IncBatchMin AND doc_b >= $IncBatchMin),
       |ic_idx AS MATERIALIZED (
       |  SELECT doc_id, band, band_key FROM mp_base WHERE doc_id < $IncBatchMin),
       |ic_idxp AS MATERIALIZED (
       |  SELECT doc_id, band, band_key FROM ic_idx
       |  UNION ALL SELECT doc_id, band, band_key FROM mp_probe WHERE doc_id < $IncBatchMin),
       |ic_cnt AS MATERIALIZED (
       |  SELECT band, band_key, count(*) AS bn FROM ic_idx GROUP BY 1, 2),
       |ic_bk AS MATERIALIZED (
       |  SELECT doc_id, band, band_key FROM mp_base WHERE doc_id >= $IncBatchMin),
       |ic_df AS MATERIALIZED (
       |  SELECT sh, count(*) AS df FROM mp_sh WHERE doc_id >= $IncBatchMin GROUP BY sh),
       |ic_mdf AS MATERIALIZED (
       |  SELECT h.doc_id, h.k, min(d.df) AS mdf
       |  FROM mp_hn h JOIN mp_m1 USING (doc_id, k) JOIN ic_df d USING (sh)
       |  WHERE h.h = mp_m1.m AND h.doc_id >= $IncBatchMin GROUP BY 1, 2),
       |ic_sigdf AS MATERIALIZED (
       |  SELECT doc_id,
       |    $dfPivot
       |  FROM ic_mdf GROUP BY doc_id),
       |ic_pall AS MATERIALIZED (
       |  SELECT t.doc_id, t.band, t.band_key,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY t.df, t.band, t.j) AS pr,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY t.df, t.gap, t.band, t.j) AS pr_gap,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY
       |      CASE WHEN coalesce(c.bn, 0) > 0 THEN 0 ELSE 1 END, t.df, t.band, t.j) AS pr_ix
       |  FROM (SELECT p.doc_id, p.band, p.j, p.band_key, p.gap, $dfCase AS df
       |        FROM mp_probe p JOIN ic_sigdf s USING (doc_id)
       |        WHERE p.doc_id >= $IncBatchMin) t
       |  LEFT JOIN ic_cnt c ON c.band = t.band AND c.band_key = t.band_key),
       |ic_pb AS (SELECT doc_id, band, band_key FROM ic_pall WHERE pr <= $budget),
       |ic_pg AS (SELECT doc_id, band, band_key FROM ic_pall WHERE pr_gap <= $budget),
       |ic_px AS (SELECT doc_id, band, band_key FROM ic_pall WHERE pr_ix <= $budget),
       |ic_r2 AS MATERIALIZED (
       |  $r2Rows),
       |ic_kb AS (SELECT doc_id, band, band_key FROM ic_bk
       |  UNION ALL SELECT doc_id, band, band_key FROM ic_pb),
       |ic_kg AS (SELECT doc_id, band, band_key FROM ic_bk
       |  UNION ALL SELECT doc_id, band, band_key FROM ic_pg),
       |ic_kx AS (SELECT doc_id, band, band_key FROM ic_bk
       |  UNION ALL SELECT doc_id, band, band_key FROM ic_px),
       |ic_kf AS (SELECT doc_id, band, band_key FROM ic_bk
       |  UNION ALL SELECT doc_id, band, band_key FROM ic_pall),
       |ic_kr2 AS (SELECT doc_id, band, band_key FROM ic_kf
       |  UNION ALL SELECT doc_id, band, band_key FROM ic_r2),
       |ic_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |${candCte("base_only", "ic_bk", "ic_idx")},
       |${candCte("index_side", "ic_bk", "ic_idxp")},
       |${candCte("mp_budget", "ic_kb", "ic_idx")},
       |${candCte("mp_budget_gap", "ic_kg", "ic_idx")},
       |${candCte("mp_budget_ix", "ic_kx", "ic_idx")},
       |${candCte("mp_full", "ic_kf", "ic_idx")},
       |${candCte("mp_radius2", "ic_kr2", "ic_idx")},
       |ic_g AS (
       |${Seq(
          gradeRow("base_only", "ic_idx", "SELECT count(*) FROM ic_bk", "SELECT CAST(0 AS BIGINT)"),
          gradeRow("index_side", "ic_idxp", "SELECT count(*) FROM ic_bk", "SELECT CAST(0 AS BIGINT)"),
          gradeRow("mp_budget", "ic_idx", "SELECT count(*) FROM ic_kb", "SELECT CAST(0 AS BIGINT)"),
          gradeRow("mp_budget_gap", "ic_idx", "SELECT count(*) FROM ic_kg", "SELECT CAST(0 AS BIGINT)"),
          gradeRow("mp_budget_ix", "ic_idx", "SELECT count(*) FROM ic_kx", "SELECT count(*) FROM ic_pall"),
          gradeRow("mp_full", "ic_idx", "SELECT count(*) FROM ic_kf", "SELECT CAST(0 AS BIGINT)"),
          gradeRow("mp_radius2", "ic_idx", "SELECT count(*) FROM ic_kr2", "SELECT CAST(0 AS BIGINT)")).mkString("\n  UNION ALL\n")})
       |SELECT mode, n_index_rows, n_lookups, n_count_lookups, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true + 0.000000001, 6) AS rec
       |FROM ic_g ORDER BY mode""".stripMargin
  }

  /** Shared oracle CTE chain for №173/№174: truth → tokenize → shingles
    * → 48-bit hashes → (min, second-min) → signature pivot → base keys →
    * probe keys (with the gap + (band, j) ranking columns №174 orders
    * on; №173 ignores them) → base candidate pairs `mp_bc`. */
  private[graft] def mpChainSql: String = {
    def hex12(src: String): String =
      s"CAST(list_sum(list_transform(range(1, 13), i -> " +
        s"CAST(strpos('0123456789abcdef', substr($src, CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (12 - i)))) AS BIGINT)"
    def keySql(cols: Seq[String]): String =
      "md5(" + cols.map(c => s"CAST($c AS VARCHAR)").mkString(" || '|' || ") + ")"
    val basePivot = (0 until NumHashes).flatMap(k => Seq(
      s"max(CASE WHEN k = $k THEN m END) AS m$k",
      s"max(CASE WHEN k = $k THEN s END) AS s$k")).mkString(",\n    ")
    val baseRows = (0 until MpBands).map { b =>
      s"SELECT doc_id, $b AS band, ${keySql((b * MpR until (b + 1) * MpR).map(k => s"m$k"))} AS band_key FROM mp_sig"
    }.mkString("\n  UNION ALL ")
    val probeRows = (0 until MpBands).flatMap { b =>
      (0 until MpR).map { j =>
        val pos = b * MpR + j
        val cols = (b * MpR until (b + 1) * MpR).map(k => if (k == pos) s"s$k" else s"m$k")
        s"SELECT doc_id, $b AS band, $j AS j, ${keySql(cols)} AS band_key, s$pos - m$pos AS gap " +
          s"FROM mp_sig WHERE s$pos IS NOT NULL"
      }
    }.mkString("\n  UNION ALL ")
    s"""truth AS MATERIALIZED (SELECT doc_a, doc_b FROM (${TextQueries.dedupNgramJaccardSql.replace("\n", "\n  ")})),
       |$dupCorpusSql,
       |mp_d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |mp_sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
       |  FROM mp_d WHERE len(ws) >= 3),
       |mp_hn AS MATERIALIZED (
       |  SELECT doc_id, sh, k, ${hex12("md5(CAST(k AS VARCHAR) || '|' || sh)")} AS h
       |  FROM mp_sh CROSS JOIN (SELECT unnest(range(0, $NumHashes)) AS k)),
       |mp_m1 AS MATERIALIZED (SELECT doc_id, k, min(h) AS m FROM mp_hn GROUP BY 1, 2),
       |mp_m2 AS (
       |  SELECT h.doc_id, h.k, min(h.h) AS s
       |  FROM mp_hn h JOIN mp_m1 USING (doc_id, k) WHERE h.h > mp_m1.m GROUP BY 1, 2),
       |mp_two AS (
       |  SELECT m1.doc_id, m1.k, m1.m, m2.s
       |  FROM mp_m1 m1 LEFT JOIN mp_m2 m2 USING (doc_id, k)),
       |mp_sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $basePivot
       |  FROM mp_two GROUP BY doc_id),
       |mp_base AS MATERIALIZED (
       |  $baseRows),
       |mp_probe AS MATERIALIZED (
       |  $probeRows),
       |mp_bc AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM mp_base a JOIN mp_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
  }

  val dedupMinhashMultiprobeSql: String =
    s"""WITH $mpChainSql,
       |mp_pc AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM mp_probe a JOIN mp_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
       |mp_mc AS MATERIALIZED (SELECT doc_a, doc_b FROM mp_bc UNION SELECT doc_a, doc_b FROM mp_pc),
       |mp_g AS (
       |  SELECT 'base' AS mode,
       |    (SELECT count(*) FROM mp_base) AS n_index_rows,
       |    CAST(0 AS BIGINT) AS n_probe_rows,
       |    (SELECT count(*) FROM mp_bc) AS n_candidates,
       |    (SELECT count(*) FROM truth) AS n_true,
       |    (SELECT count(*) FROM mp_bc JOIN truth USING (doc_a, doc_b)) AS n_hit
       |  UNION ALL
       |  SELECT 'multiprobe',
       |    (SELECT count(*) FROM mp_base),
       |    (SELECT count(*) FROM mp_probe),
       |    (SELECT count(*) FROM mp_mc),
       |    (SELECT count(*) FROM truth),
       |    (SELECT count(*) FROM mp_mc JOIN truth USING (doc_a, doc_b)))
       |SELECT mode, n_index_rows, n_probe_rows, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true + 0.000000001, 6) AS rec
       |FROM mp_g ORDER BY mode""".stripMargin

  val dedupMultiprobeRankedSql: String = {
    val budgets = MpProbeSweep :+ (MpBands * MpR)
    val candCtes = budgets.map { t =>
      s"""mr_c$t AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM mp_bc
         |  UNION
         |  SELECT DISTINCT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
         |  FROM mr_pr a JOIN mp_base b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
         |  WHERE a.pr <= $t)""".stripMargin
    }.mkString(",\n")
    val gradeRows =
      s"""  SELECT CAST(0 AS BIGINT) AS probes_t, CAST(0 AS BIGINT) AS n_probe_rows,
         |    (SELECT count(*) FROM mp_bc) AS n_candidates,
         |    (SELECT count(*) FROM truth) AS n_true,
         |    (SELECT count(*) FROM mp_bc JOIN truth USING (doc_a, doc_b)) AS n_hit""".stripMargin +:
      budgets.map { t =>
        s"""  SELECT CAST($t AS BIGINT), (SELECT count(*) FROM mr_pr WHERE pr <= $t),
           |    (SELECT count(*) FROM mr_c$t),
           |    (SELECT count(*) FROM truth),
           |    (SELECT count(*) FROM mr_c$t JOIN truth USING (doc_a, doc_b))""".stripMargin
      }
    s"""WITH $mpChainSql,
       |mr_pr AS MATERIALIZED (
       |  SELECT doc_id, band, band_key,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY gap, band, j) AS pr
       |  FROM mp_probe),
       |$candCtes,
       |mr_g AS (
       |${gradeRows.mkString("\n  UNION ALL\n")})
       |SELECT probes_t, n_probe_rows, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true + 0.000000001, 6) AS rec
       |FROM mr_g ORDER BY probes_t""".stripMargin
  }

  val dedupMultiprobeDfrankSql: String = {
    val budgets = MpProbeSweep :+ (MpBands * MpR)
    val dfPivot = (0 until NumHashes).map(k =>
      s"max(CASE WHEN k = $k THEN mdf END) AS df$k").mkString(",\n    ")
    val dfCase = "CASE p.band * " + MpR + " + p.j " +
      (0 until NumHashes).map(k => s"WHEN $k THEN s.df$k").mkString(" ") + " END"
    val rankings = Seq("gap" -> "gap ASC", "df_rare" -> "df ASC", "df_common" -> "df DESC")
    val candCtes = (for { (name, _) <- rankings; t <- budgets } yield {
      s"""md_c_${name}_$t AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM mp_bc
         |  UNION
         |  SELECT doc_a, doc_b FROM md_tier WHERE t_$name <= $t)""".stripMargin
    }).mkString(",\n")
    val tierCols = rankings.map { case (name, _) => s"min(pr_$name) AS t_$name" }.mkString(", ")
    val prCols = rankings.map { case (name, ord) =>
      s"row_number() OVER (PARTITION BY doc_id ORDER BY $ord, band, j) AS pr_$name"
    }.mkString(",\n    ")
    val gradeRows =
      s"""  SELECT 'base' AS ranking, CAST(0 AS BIGINT) AS probes_t,
         |    CAST(0 AS BIGINT) AS n_probe_rows,
         |    (SELECT count(*) FROM mp_bc) AS n_candidates,
         |    (SELECT count(*) FROM truth) AS n_true,
         |    (SELECT count(*) FROM mp_bc JOIN truth USING (doc_a, doc_b)) AS n_hit""".stripMargin +:
      (for { (name, _) <- rankings; t <- budgets } yield {
        s"""  SELECT '$name', CAST($t AS BIGINT),
           |    (SELECT count(*) FROM md_ranked WHERE pr_gap <= $t),
           |    (SELECT count(*) FROM md_c_${name}_$t),
           |    (SELECT count(*) FROM truth),
           |    (SELECT count(*) FROM md_c_${name}_$t JOIN truth USING (doc_a, doc_b))""".stripMargin
      })
    s"""WITH $mpChainSql,
       |md_df AS MATERIALIZED (SELECT sh, count(*) AS df FROM mp_sh GROUP BY sh),
       |md_mdf AS MATERIALIZED (
       |  SELECT h.doc_id, h.k, min(d.df) AS mdf
       |  FROM mp_hn h JOIN mp_m1 USING (doc_id, k) JOIN md_df d USING (sh)
       |  WHERE h.h = mp_m1.m GROUP BY 1, 2),
       |md_sigdf AS MATERIALIZED (
       |  SELECT doc_id,
       |    $dfPivot
       |  FROM md_mdf GROUP BY doc_id),
       |md_probed AS (
       |  SELECT p.doc_id, p.band, p.j, p.band_key, p.gap, $dfCase AS df
       |  FROM mp_probe p JOIN md_sigdf s USING (doc_id)),
       |md_ranked AS MATERIALIZED (
       |  SELECT doc_id, band, band_key,
       |    $prCols
       |  FROM md_probed),
       |md_tier AS MATERIALIZED (
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b,
       |    $tierCols
       |  FROM md_ranked a JOIN mp_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |$candCtes,
       |md_g AS (
       |${gradeRows.mkString("\n  UNION ALL\n")})
       |SELECT ranking, probes_t, n_probe_rows, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / n_true + 0.000000001, 6) AS rec
       |FROM md_g ORDER BY ranking, probes_t""".stripMargin
  }

  /** Oracle CTEs for the rare-first DF ranking of probe rows (prefix
    * `mpb_`), appended after [[mpChainSql]]: ends with `mpb_pr`, the
    * probe rows + `pr` rank ready for a `pr <= T` budget filter —
    * №183's pipeline-budget oracle consumes it. */
  private[queries] def mpDfRankChainSql: String = {
    val dfPivot = (0 until NumHashes).map(k =>
      s"max(CASE WHEN k = $k THEN mdf END) AS df$k").mkString(",\n    ")
    val dfCase = "CASE p.band * " + MpR + " + p.j " +
      (0 until NumHashes).map(k => s"WHEN $k THEN s.df$k").mkString(" ") + " END"
    s"""mpb_df AS MATERIALIZED (SELECT sh, count(*) AS df FROM mp_sh GROUP BY sh),
       |mpb_mdf AS MATERIALIZED (
       |  SELECT h.doc_id, h.k, min(d.df) AS mdf
       |  FROM mp_hn h JOIN mp_m1 USING (doc_id, k) JOIN mpb_df d USING (sh)
       |  WHERE h.h = mp_m1.m GROUP BY 1, 2),
       |mpb_sigdf AS MATERIALIZED (
       |  SELECT doc_id,
       |    $dfPivot
       |  FROM mpb_mdf GROUP BY doc_id),
       |mpb_pr AS MATERIALIZED (
       |  SELECT doc_id, band, band_key,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY df, band, j) AS pr
       |  FROM (SELECT p.doc_id, p.band, p.j, p.band_key, $dfCase AS df
       |        FROM mp_probe p JOIN mpb_sigdf s USING (doc_id)) t)""".stripMargin
  }

  val dedupRecallSql: String =
    s"""WITH truth AS (SELECT doc_a, doc_b FROM (${TextQueries.dedupNgramJaccardSql.replace("\n", "\n  ")})),
       |mh AS (SELECT doc_a, doc_b FROM (${dedupMinhashSql.replace("\n", "\n  ")})),
       |sh AS (SELECT doc_a, doc_b FROM (${dedupSimhashSql.replace("\n", "\n  ")})),
       |g AS (
       |  SELECT 'minhash' AS method,
       |    (SELECT count(*) FROM mh) AS n_pairs,
       |    (SELECT count(*) FROM truth) AS n_true,
       |    (SELECT count(*) FROM mh JOIN truth USING (doc_a, doc_b)) AS n_hit
       |  UNION ALL
       |  SELECT 'simhash',
       |    (SELECT count(*) FROM sh),
       |    (SELECT count(*) FROM truth),
       |    (SELECT count(*) FROM sh JOIN truth USING (doc_a, doc_b)))
       |SELECT method, n_pairs, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE)/n_pairs + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE)/n_true + 0.000000001, 6) AS rec
       |FROM g ORDER BY method""".stripMargin

  // ---------------------------------------------------------------- the banded index
  /** THE BANDED INDEX'S ONE PATH. A store of band rows (doc_id, band,
    * band_key) partitioned by generation (`gen=`), kept by the
    * dedup-index drills (№190/№193/№194/№196/№215), the text legs of the
    * corpus drills (CorpusNight, CorpusForget, CorpusBackfill,
    * CorpusRetention) and the streaming nights (StreamNight,
    * StreamDedupIndex). Each step has one definition:
    *  - the corpus: [[IndexCorpus]];
    *  - the store directory: [[graft.Fs.storeDir]];
    *  - a generation's landing: [[landGen]];
    *  - the read-back: [[readIndex]], always with the rows' schema;
    *  - the band-key joins: [[bandSelfPairs]] and [[bandProbePairs]]
    *    ([[bandCandidates]] = distinct probe pairs);
    *  - one serve, its census and its verified hits: [[serveIndex]];
    *  - a landed dup decision: [[landDecision]];
    *  - the result rows: [[ServeLog]]. */
  private[graft] def clsOf(c: Column): Column = pmod(c, lit(IncCalMod.toLong))

  /** The corpus an index drill starts from, each frame tracked for the
    * query: tokens, 5-gram shingles, the τ=3/5 truth pairs and the band
    * rows tagged with their doc class `cls` ([[clsOf]]). One signature
    * pass over the whole corpus; stage membership is a filter on the
    * class (signatures are per-doc — no cross-doc state). */
  private[graft] final class IndexCorpus(spark: SparkSession, dir: String) {
    val tok: DataFrame = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val sh5: DataFrame = TextQueries.shingleFrameOf(tok)
    val truthAll: DataFrame = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select(col("doc_a"), col("doc_b")).persist())
    val rows: DataFrame = graft.CacheRegistry.track(mpBaseRows(mpSigFrom(tok))
      .withColumn("cls", clsOf(col("doc_id"))).persist())
    /** The band rows of the classes `p` accepts, without the class. */
    def ofCls(p: Column => Column): DataFrame =
      rows.filter(p(col("cls"))).select(col("doc_id"), col("band"), col("band_key"))
  }

  /** Append `r`'s band rows to `store` as generation `gen`, in `nFiles`
    * files. */
  private[graft] def landGen(store: java.nio.file.Path, r: DataFrame, gen: Int, nFiles: Int): Unit =
    r.withColumn("gen", lit(gen)).repartition(nFiles)
      .write.partitionBy("gen").mode("append").parquet(store.toString)

  /** A band-row store (or one generation of it) read back from its files
    * with the rows' known schema: an inferred one costs a footer-reading
    * job per read. Partition columns (`gen=`) are still discovered from
    * the directory names. */
  private[graft] def readIndex(spark: SparkSession, store: java.nio.file.Path): DataFrame =
    spark.read.schema("doc_id LONG, band INT, band_key STRING").parquet(store.toString)

  /** One serve of `keys` against the store's files. The read-back
    * (doc_id, band, band_key, `extra`…) and the probe join of `keys`
    * against it ([[bandCandidates]]) are cached for this serve only
    * ([[graft.CacheRegistry.withCache]]): the probe join feeds the verify,
    * the census and the pair collects, and the read-back feeds the join
    * and the census, so each executes once per serve. `body` gets the
    * census row, in one collect — `n_candidates`, the read-back's
    * `backAggs`, `n_lookups`, `n_true` (the rows of `truth`) and a row
    * count per named frame in `counted` — and the verified candidate
    * pairs found in `truth`, collected once. */
  private[graft] def serveIndex[A](c: IndexCorpus, store: java.nio.file.Path, keys: DataFrame,
                                   truth: DataFrame, backAggs: Seq[Column],
                                   counted: Seq[(String, DataFrame)] = Nil, extra: Seq[Column] = Nil)(
      body: IndexServe => A): A = {
    val spark = keys.sparkSession
    graft.CacheRegistry.withCache(readIndex(spark, store)
        .select(Seq(col("doc_id"), col("band"), col("band_key")) ++ extra: _*)) { back =>
      graft.CacheRegistry.withCache(bandCandidates(keys, back)) { cand =>
        val hits = TextQueries.verifyPairsOf(c.sh5, cand).select(col("doc_a"), col("doc_b"))
          .join(broadcast(truth), Seq("doc_a", "doc_b")).collect()
          .map(h => (h.getLong(0), h.getLong(1))).toSet
        val counts = (("n_lookups" -> keys) +: ("n_true" -> truth) +: counted).map {
          case (n, f) => broadcast(f.agg(count(lit(1)).as(n)))
        }
        val census = (broadcast(back.agg(backAggs.head, backAggs.tail: _*)) +: counts)
          .foldLeft(cand.agg(count(lit(1)).as("n_candidates")))(_ crossJoin _)
          .collect()(0)
        body(IndexServe(census, hits, back, cand))
      }
    }
  }

  /** The read-back census of a store whose generations may repeat rows:
    * all rows and the distinct ones. */
  private[graft] val DistinctCensus: Seq[Column] = Seq(count(lit(1)).as("n_rows"),
    countDistinct(col("doc_id"), col("band"), col("band_key")).as("n_distinct"))

  /** What [[serveIndex]] hands its body: the census row, the verified
    * hit pairs, and the serve's cached read-back and candidates. */
  private[graft] final case class IndexServe(census: org.apache.spark.sql.Row,
                                             hits: Set[(Long, Long)], back: DataFrame, cand: DataFrame) {
    def apply(name: String): Long = census.getAs[Long](name)
  }

  /** The batch docs of verified candidate pairs: for each pair, its end
    * in the batch (`inBatch`), once. */
  private[graft] def batchDups(sh5: DataFrame, cand: DataFrame, inBatch: Column => Column): DataFrame =
    TextQueries.verifyPairsOf(sh5, cand)
      .select(when(inBatch(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("doc_id"))
      .distinct()

  /** Land a batch's dup decision (doc_id) as a manifest file and read it
    * back. The decision must be a landed artifact, not a transient frame:
    * the index append that follows writes to the path the decision's
    * lineage READS, and Spark invalidates path-dependent caches on write —
    * a cached decision would silently recompute against the
    * already-appended index (every survivor then band-matches itself and
    * the vector append empties; caught live at sf0.001). The appends and
    * the specs consume the manifest FILES — №175's discipline applied to
    * the decision itself. */
  private[graft] def landDecision(manifest: java.nio.file.Path, dups: DataFrame): DataFrame = {
    dups.coalesce(1).write.parquet(manifest.toString)
    dups.sparkSession.read.schema("doc_id LONG").parquet(manifest.toString)
  }

  /** A drill's result rows, one per serve, as Long columns `cols`;
    * [[frame]] adds each (name, numerator, denominator) ratio column and
    * orders by the first column. */
  private[graft] final class ServeLog(cols: String*) {
    private val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def +=(vals: Long*): Unit = {
      require(vals.size == cols.size, s"${vals.size} values for ${cols.size} columns")
      rows += org.apache.spark.sql.Row.fromSeq(vals)
    }
    def frame(spark: SparkSession, ratios: (String, String, String)*): DataFrame = {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*),
          StructType(cols.map(StructField(_, LongType, nullable = false))))
        .select(cols.map(col) ++ ratios.map { case (n, num, den) =>
          round(col(num).cast("double") / greatest(col(den), lit(1L)) + 1e-9, 6).as(n)
        }: _*)
        .orderBy(col(cols.head))
    }
  }

  // ---------------------------------------------------------------- №190 dedup_index_calendar
  /** Per-stage diagnostics behind [[dedupIndexCalendar]], returned to the
    * spec instead of stashed in object vars (the r13 StreamServeSearch
    * lesson): verified-hit pairs per stage, candidate pairs for the two
    * compaction-straddling serves, and the final store's generation
    * directories. Pair lists are stage-hit-sized (hundreds at gate SF),
    * never corpus-sized. */
  private[graft] final case class IndexCalendarDetail(
      hitPairs: Map[Int, Set[(Long, Long)]],
      candPairs: Map[Int, Set[(Long, Long)]],
      finalGens: Seq[String])

  /** THE PERSISTED BANDED INDEX SERVED THROUGH ITS MAINTENANCE CALENDAR —
    * №187 probes nightly batches against a STATIC index; the deployment a
    * 100 TB crawl actually runs both probes AND GROWS the index (tonight's
    * batch must near-dup against yesterday's, not just against the base
    * corpus), and the store needs compaction once enough nightly appends
    * accumulate — the text-side twin of №178/№185's vector maintenance
    * calendar (reference semantics: the nightly time-range increment of
    * app/batch/HBaseReader.kt:131-160, whose store-side maintenance is
    * HBase's own compaction). Calendar against ONE gen-partitioned parquet
    * store of band rows, every serve reading the FILES back (№175's
    * discipline — the census columns are in the driver hash):
    *
    *   E0  land base band rows (gen=0)
    *   S1  probe night-1 keys → verify τ=3/5 → append B1 (gen=1)
    *   S2  probe night-2 — now also catches B1×B2 pairs (the append is
    *       load-bearing: spec pins that a static base-only index misses
    *       exactly the night-1-partner pairs)
    *   E3  compaction ADD wave: gens 0-2 rewritten as one compacted
    *       generation (gen=9, content derived from the CACHED row frames,
    *       never read-then-overwrite of the same path — r13 advice)
    *   S3  probe night-3 MID-COMPACTION: every row double-visible
    *       (n_index_rows = 2×), candidates dedup exactly — the serve is
    *       lossless through the rewrite
    *   E3' compaction REMOVE wave: gen=0/1/2 directories dropped
    *   S4  probe night-3 post-compaction — pair-identical to S3 at half
    *       the rows; append B3 (gen=3)
    *   S5  audit probe: ALL batch keys vs the final index — finds every
    *       pair the nightly serves found plus exactly the same-night
    *       pairs no nightly probe could see (both ends land together;
    *       probe-then-append means a night never probes itself), the
    *       coverage theorem DedupIndexCalendarSpec pins.
    *
    * Night split: doc_id mod [[IncCalMod]] (base = classes {0,4,5,6},
    * nights 1-3 = classes 1-3). The dup corpus's +1M/+2M near-dup offsets
    * shift the class by 1/2, so cross-night dup pairs exist in every
    * direction (a night-1 original's copy lands night-2; a night-3
    * original's copy lands in BASE — caught when night 3 probes). Stage
    * truth = the №24 τ-pairs with one end in the probing night and the
    * other end INDEXED at that stage; hits verify with the shared exact
    * τ=3/5 test ([[TextQueries.verifyPairsOf]] — the mode contract).
    * At 100 TB: the store is №187's bucketed layout (generations within
    * buckets); probes stay co-located band-key equi-joins, appends are
    * per-bucket file adds, compaction is the per-bucket small-file
    * rewrite, and the add-then-remove waves make every serve lossless —
    * the same no-torn-read argument as №177, now on the text side. */
  def dedupIndexCalendar(spark: SparkSession, dir: String): DataFrame =
    dedupIndexCalendarDetail(spark, dir)._1

  private[graft] def dedupIndexCalendarDetail(
      spark: SparkSession, dir: String): (DataFrame, IndexCalendarDetail) = {
    val corpus = new IndexCorpus(spark, dir)
    import corpus.{ofCls, truthAll}
    val store = graft.Fs.storeDir("dedupcal", dir)
    graft.Fs.rmTree(store) // idempotent re-runs: appends must not double
    def land(r: DataFrame, gen: Int, nFiles: Int): Unit = landGen(store, r, gen, nFiles)
    // classes indexed when night n probes: everything landed before n
    def indexedAt(n: Int)(c: Column): Column =
      !clsOf(c).isin((n to 3).map(i => Long.box(i.toLong)): _*)
    def truthNight(n: Int): DataFrame = truthAll.filter(
      (clsOf(col("doc_a")) === n && indexedAt(n)(col("doc_b"))) ||
        (clsOf(col("doc_b")) === n && indexedAt(n)(col("doc_a"))))
    val batchCls = Seq(1L, 2L, 3L).map(Long.box)
    val truthAudit = truthAll.filter(
      clsOf(col("doc_a")).isin(batchCls: _*) || clsOf(col("doc_b")).isin(batchCls: _*))
    val out = new ServeLog("stage", "n_index_rows", "n_lookups", "n_candidates", "n_true", "n_hit")
    val hitPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val candPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    def serve(stage: Int, keys: DataFrame, truthStage: DataFrame): Unit =
        serveIndex(corpus, store, keys, truthStage, Seq(count(lit(1)).as("n_index_rows"))) { r =>
      out += (stage, r("n_index_rows"), r("n_lookups"), r("n_candidates"), r("n_true"), r.hits.size)
      hitPairs(stage) = r.hits
      if (stage == 3 || stage == 4)
        candPairs(stage) = r.cand.collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    }
    land(ofCls(c => !c.isin(batchCls: _*)), 0, 4)
    serve(1, ofCls(_ === 1L), truthNight(1)); land(ofCls(_ === 1L), 1, 2)
    serve(2, ofCls(_ === 2L), truthNight(2)); land(ofCls(_ === 2L), 2, 2)
    // E3 add wave: the compacted generation, derived from the cached rows
    land(ofCls(c => !(c === 3L)), 9, 2)
    serve(3, ofCls(_ === 3L), truthNight(3))
    Seq(0, 1, 2).foreach(g => graft.Fs.rmTree(store.resolve(s"gen=$g")))
    serve(4, ofCls(_ === 3L), truthNight(3)); land(ofCls(_ === 3L), 3, 2)
    serve(5, ofCls(c => c.isin(batchCls: _*)), truthAudit)
    val df = out.frame(spark, ("prec", "n_hit", "n_candidates"), ("rec", "n_hit", "n_true"))
    (df, IndexCalendarDetail(hitPairs.toMap, candPairs.toMap, graft.Fs.subdirs(store)))
  }
  val IncCalMod = 7

  // ---------------------------------------------------------------- №193 dedup_index_retention
  /** Per-window diagnostics behind [[dedupIndexRetention]]: verified-hit
    * pairs per retention window and the generation directories on disk
    * after each age-out. */
  private[graft] final case class IndexRetentionDetail(
      hitPairs: Map[Int, Set[(Long, Long)]],
      gensAfter: Map[Int, Seq[String]])

  /** RETENTION ON THE PERSISTED BANDED INDEX — the aging decision №190's
    * calendar defers: a 100 TB crawl index cannot keep every generation
    * forever, and the TTL dial trades storage against the near-dup pairs
    * whose PARTNER aged out (reference analogue: the HBase column-family
    * TTL the export's tables carry — an aged cell simply stops appearing
    * in scans). One store, generations landed base/night-1/night-2, then
    * night 3 probes THREE times while generations age out underneath
    * (the remove is a generation-directory drop — the same file-level
    * wave discipline as №190's compaction, now pointed at retention):
    * window=3 (full index), window=2 (base aged out), window=1 (night 1
    * aged out too). Every serve reads the FILES back; the lookup bill is
    * identical in all three (the batch's 2 base keys — retention saves
    * storage and candidate work, never probe keys). Columns meter the
    * decision exactly: `rec` (hits / pairs still FINDABLE in the window —
    * the index does its job on what it retains) vs `coverage` (hits /
    * ALL older-partner pairs — what aging actually costs: misses at
    * window w are exactly the pairs whose partner lives in an aged-out
    * generation, which the spec classifies pair by pair). The oracle
    * rebuilds all three windows closed-form; at 100 TB the window is the
    * production dial a crawl-dedup deployment sets per storage budget,
    * and this row is the measured curve it reads first. */
  def dedupIndexRetention(spark: SparkSession, dir: String): DataFrame =
    dedupIndexRetentionDetail(spark, dir)._1

  private[graft] def dedupIndexRetentionDetail(
      spark: SparkSession, dir: String): (DataFrame, IndexRetentionDetail) = {
    val corpus = new IndexCorpus(spark, dir)
    import corpus.{ofCls, truthAll}
    val store = graft.Fs.storeDir("dedupret", dir)
    graft.Fs.rmTree(store)
    landGen(store, ofCls(c => !c.isin(1L, 2L, 3L)), 0, 4)
    landGen(store, ofCls(_ === 1L), 1, 2)
    landGen(store, ofCls(_ === 2L), 2, 2)
    val night3Keys = ofCls(_ === 3L)
    // night-3 pairs with the partner anywhere older — what a full index
    // could find; per-window truth restricts the partner to the window
    def truthWith(partner: Column => Column): DataFrame = truthAll.filter(
      (clsOf(col("doc_a")) === 3L && partner(col("doc_b"))) ||
        (clsOf(col("doc_b")) === 3L && partner(col("doc_a"))))
    val truthFull = truthWith(c => clsOf(c) =!= 3L)
    val windowPartners: Map[Int, Column => Column] = Map(
      3 -> (c => clsOf(c) =!= 3L),
      2 -> (c => clsOf(c).isin(1L, 2L)),
      1 -> (c => clsOf(c) === 2L))
    val out = new ServeLog("win", "n_index_rows", "n_lookups", "n_candidates",
      "n_true_window", "n_true_all", "n_hit")
    val hitPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val gensAfter = scala.collection.mutable.Map.empty[Int, Seq[String]]
    def serve(window: Int): Unit = serveIndex(corpus, store, night3Keys,
        truthWith(windowPartners(window)), Seq(count(lit(1)).as("n_index_rows")),
        Seq("n_true_all" -> truthFull)) { r =>
      out += (window, r("n_index_rows"), r("n_lookups"), r("n_candidates"), r("n_true"),
        r("n_true_all"), r.hits.size)
      hitPairs(window) = r.hits
      gensAfter(window) = graft.Fs.subdirs(store)
    }
    serve(3)
    graft.Fs.rmTree(store.resolve("gen=0")); serve(2)
    graft.Fs.rmTree(store.resolve("gen=1")); serve(1)
    val df = out.frame(spark, ("rec", "n_hit", "n_true_window"), ("coverage", "n_hit", "n_true_all"))
    (df, IndexRetentionDetail(hitPairs.toMap, gensAfter.toMap))
  }

  val dedupIndexRetentionSql: String = {
    val m = IncCalMod
    val windows: Seq[(Int, String)] = Seq(
      3 -> s"doc_id % $m NOT IN (3)",
      2 -> s"doc_id % $m IN (1, 2)",
      1 -> s"doc_id % $m = 2")
    def partnerPred(w: Int, c: String): String = w match {
      case 3 => s"$c % $m <> 3"
      case 2 => s"$c % $m IN (1, 2)"
      case 1 => s"$c % $m = 2"
    }
    def truthPred(w: Int): String =
      s"(doc_a % $m = 3 AND ${partnerPred(w, "doc_b")}) OR (doc_b % $m = 3 AND ${partnerPred(w, "doc_a")})"
    def candCte(w: Int, idxPred: String): String =
      s"""dret_c$w AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 3) a
         |  JOIN (SELECT * FROM mp_base WHERE $idxPred) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |dret_v$w AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM dret_c$w c JOIN dret_s5 sa ON sa.doc_id = c.doc_a JOIN dret_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    def gradeRow(w: Int, idxPred: String): String =
      s"""  SELECT CAST($w AS BIGINT) AS win,
         |    (SELECT count(*) FROM mp_base WHERE $idxPred) AS n_index_rows,
         |    (SELECT count(*) FROM mp_base WHERE doc_id % $m = 3) AS n_lookups,
         |    (SELECT count(*) FROM dret_c$w) AS n_candidates,
         |    (SELECT count(*) FROM truth WHERE ${truthPred(w)}) AS n_true_window,
         |    (SELECT count(*) FROM truth WHERE ${truthPred(3)}) AS n_true_all,
         |    (SELECT count(*) FROM dret_v$w v JOIN truth t USING (doc_a, doc_b) WHERE ${truthPred(w)}) AS n_hit""".stripMargin
    s"""WITH $mpChainSql,
       |dret_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |${windows.map { case (w, p) => candCte(w, p) }.mkString(",\n")},
       |dret_g AS (
       |${windows.map { case (w, p) => gradeRow(w, p) }.mkString("\n  UNION ALL\n")})
       |SELECT win, n_index_rows, n_lookups, n_candidates, n_true_window, n_true_all, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true_window, 1) + 0.000000001, 6) AS rec,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true_all, 1) + 0.000000001, 6) AS coverage
       |FROM dret_g ORDER BY win""".stripMargin
  }

  // ---------------------------------------------------------------- №194 dedup_index_backfill
  /** Diagnostics behind [[dedupIndexBackfill]]: candidate pairs per stage
    * (the idempotent-serve proof) and the generation directories after the
    * repair. */
  private[graft] final case class IndexBackfillDetail(
      candPairs: Map[Int, Set[(Long, Long)]],
      gensAfter: Seq[String],
      repairRowsRead: Long)

  /** AT-LEAST-ONCE DELIVERY INTO THE INDEX, AND THE BOUNDED REPAIR — the
    * retry-storm scenario every nightly pipeline eventually hits: night
    * 2's append job re-runs after a partial failure and lands its band
    * rows A SECOND TIME INTO THE SAME GENERATION (new files, same
    * partition directory — the case a directory drop can't undo, unlike
    * №190's add-then-remove waves where the duplicate is a whole
    * generation). Three serves against the FILES pin the contract:
    * S0 the clean store; S1 post-storm — the serve is IDEMPOTENT
    * (candidate pairs identical: the band join dedups through `distinct`,
    * exactly why the probe path tolerates at-least-once ingest) while the
    * censuses tell the truth (n_rows inflated by the doubled night,
    * n_distinct unchanged — the drift a store monitor alarms on); S2
    * post-repair — a DISTINCT-rewrite of ONLY the affected generation
    * (read gen=2, distinct, land as gen=12, drop gen=2 — repair cost is
    * one night's rows, never the store), censuses restored, candidates
    * still identical. Reference analogue: the reconciliation copy the
    * export re-sends on retry and the consumer dedups by id
    * (app/batch/JobCompletionNotificationListener.kt's rerun semantics).
    * At 100 TB: ingest is at-least-once the moment jobs retry; this row
    * is the proof the serving path never needed exactly-once, plus the
    * bounded repair that keeps storage honest. */
  def dedupIndexBackfill(spark: SparkSession, dir: String): DataFrame =
    dedupIndexBackfillDetail(spark, dir)._1

  private[graft] def dedupIndexBackfillDetail(
      spark: SparkSession, dir: String): (DataFrame, IndexBackfillDetail) = {
    val corpus = new IndexCorpus(spark, dir)
    import corpus.{ofCls, truthAll}
    val store = graft.Fs.storeDir("dedupbf", dir)
    graft.Fs.rmTree(store)
    landGen(store, ofCls(c => !c.isin(1L, 2L, 3L)), 0, 4)
    landGen(store, ofCls(_ === 1L), 1, 2)
    landGen(store, ofCls(_ === 2L), 2, 2)
    val night3Keys = ofCls(_ === 3L)
    val truth3 = truthAll.filter(
      (clsOf(col("doc_a")) === 3L && clsOf(col("doc_b")) =!= 3L) ||
        (clsOf(col("doc_b")) === 3L && clsOf(col("doc_a")) =!= 3L))
    val out = new ServeLog("stage", "n_rows", "n_distinct", "n_lookups", "n_candidates", "n_true", "n_hit")
    val candPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    def serve(stage: Int): Unit = serveIndex(corpus, store, night3Keys, truth3, DistinctCensus) { r =>
      out += (stage, r("n_rows"), r("n_distinct"), r("n_lookups"), r("n_candidates"),
        r("n_true"), r.hits.size)
      candPairs(stage) = r.cand.collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    }
    serve(0)
    // the retry storm: night 2 lands AGAIN into the same generation
    landGen(store, ofCls(_ === 2L), 2, 2)
    serve(1)
    // bounded repair: distinct-rewrite of the affected generation only
    val repairRead = graft.CacheRegistry.withCache(readIndex(spark, store.resolve("gen=2"))
        .select(col("doc_id"), col("band"), col("band_key"))) { gen2 =>
      val n = gen2.count()
      landGen(store, gen2.distinct(), 12, 2)
      n
    }
    graft.Fs.rmTree(store.resolve("gen=2"))
    serve(2)
    val gens = graft.Fs.subdirs(store)
    val df = out.frame(spark, ("prec", "n_hit", "n_candidates"), ("rec", "n_hit", "n_true"))
    (df, IndexBackfillDetail(candPairs.toMap, gens, repairRead))
  }

  val dedupIndexBackfillSql: String = {
    val m = IncCalMod
    val idxPred = s"doc_id % $m NOT IN (3)"
    val truth3 = s"(doc_a % $m = 3 AND doc_b % $m <> 3) OR (doc_b % $m = 3 AND doc_a % $m <> 3)"
    def gradeRow(s: Int, rowsSql: String): String =
      s"""  SELECT CAST($s AS BIGINT) AS stage,
         |    ($rowsSql) AS n_rows,
         |    (SELECT count(*) FROM mp_base WHERE $idxPred) AS n_distinct,
         |    (SELECT count(*) FROM mp_base WHERE doc_id % $m = 3) AS n_lookups,
         |    (SELECT count(*) FROM dbf_c) AS n_candidates,
         |    (SELECT count(*) FROM truth WHERE $truth3) AS n_true,
         |    (SELECT count(*) FROM dbf_v v JOIN truth t USING (doc_a, doc_b) WHERE $truth3) AS n_hit""".stripMargin
    s"""WITH $mpChainSql,
       |dbf_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |dbf_c AS MATERIALIZED (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 3) a
       |  JOIN (SELECT * FROM mp_base WHERE $idxPred) b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
       |dbf_v AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b
       |  FROM dbf_c c JOIN dbf_s5 sa ON sa.doc_id = c.doc_a JOIN dbf_s5 sb ON sb.doc_id = c.doc_b
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
       |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3),
       |dbf_g AS (
       |${Seq(
          gradeRow(0, s"SELECT count(*) FROM mp_base WHERE $idxPred"),
          gradeRow(1, s"SELECT count(*) + (SELECT count(*) FROM mp_base WHERE doc_id % $m = 2) FROM mp_base WHERE $idxPred"),
          gradeRow(2, s"SELECT count(*) FROM mp_base WHERE $idxPred")).mkString("\n  UNION ALL\n")})
       |SELECT stage, n_rows, n_distinct, n_lookups, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true, 1) + 0.000000001, 6) AS rec
       |FROM dbf_g ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- №196 dedup_index_delete
  /** Per-stage diagnostics behind [[dedupIndexDelete]]: verified-hit pairs
    * per stage, the manifest rows still VISIBLE per generation at each
    * serve (the torn-generation proof), the final generation directories,
    * and the rewrite bill. */
  private[graft] final case class IndexDeleteDetail(
      hitPairs: Map[Int, Set[(Long, Long)]],
      delByGen: Map[Int, Map[Int, Long]],
      gensAfter: Seq[String],
      rewrittenRows: Long)

  val TxtDelMod = 9L // forget manifest: indexed doc_id % TxtDelMod == TxtDelRes (~11%)
  val TxtDelRes = 4L

  /** DELETE FROM THE BANDED DEDUP INDEX — №192's right-to-be-forgotten
    * leg, mirrored onto the text store (the r14 frontier's unmirrored
    * twin): a forget manifest (an id list over INDEXED docs, never a
    * predicate over payloads) must leave the gen-partitioned band-row
    * store while night probes keep serving. Reference analogue: HBase
    * tombstones — app/batch/HBaseResultProcessor.kt exports only live
    * cells, so a deleted row must vanish from every later scan; here the
    * index IS the served artifact, so deletion is a physical rewrite of
    * the touched generations, not a filter.
    *
    * Store: base (gen=0) + night-1 (gen=1) + night-2 (gen=2) band rows,
    * the №190/№193 layout. The delete runs in two waves of per-generation
    * dynamic-overwrite rewrites — even generations {0,2} first, then the
    * odd {1} — each wave's content derived from the CACHED row frame
    * (never read-then-overwrite of the live path, the r13 advice
    * discipline); the bill is the touched generations' surviving rows,
    * never the store. Night-3 keys probe the FILES at four checkpoints:
    *   S0  pre-delete — manifest partners genuinely pair (not vacuous)
    *   S1  MID-delete — each generation is atomically old or new, never
    *       torn: gens 0/2 read back zero manifest rows, gen 1 its full
    *       pre-delete count; truth restricted to still-visible partners
    *       and the serve still hits them
    *   S2  post-delete — n_del_visible = 0; the lost hits are EXACTLY
    *       the pairs whose partner was forgotten (spec, pair by pair)
    *   S3  after appending night-3 rows (gen=3) — same-night pairs
    *       appear, n_del_visible STAYS 0: maintenance cannot resurrect
    * The lookup bill is stage-independent (deletion saves index rows and
    * candidate work, never probe keys — №193's argument). The oracle
    * rebuilds all four index states closed-form (visibility is a pure
    * function of doc_id class and the manifest residue). At 100 TB: the
    * manifest is a broadcast id set, generations live inside №187's
    * bucketed layout so each wave rewrites only its generations' files
    * per bucket, and serving never pauses — №177's add-then-remove
    * losslessness, inverted for removal, now on the text side. */
  def dedupIndexDelete(spark: SparkSession, dir: String): DataFrame =
    dedupIndexDeleteDetail(spark, dir)._1

  private[graft] def dedupIndexDeleteDetail(
      spark: SparkSession, dir: String): (DataFrame, IndexDeleteDetail) = {
    val corpus = new IndexCorpus(spark, dir)
    import corpus.{ofCls, rows, truthAll}
    // the manifest covers INDEXED docs only — a night-3 doc sharing the
    // residue is a probe key, not a deleted row
    def delOf(c: Column): Column =
      c % TxtDelMod === TxtDelRes && clsOf(c) =!= 3L
    val genOf: Column = when(col("cls") === 1L, 1).when(col("cls") === 2L, 2).otherwise(0)
    val store = graft.Fs.storeDir("dedupdel", dir)
    graft.Fs.rmTree(store)
    landGen(store, ofCls(c => !c.isin(1L, 2L, 3L)), 0, 4)
    landGen(store, ofCls(_ === 1L), 1, 2)
    landGen(store, ofCls(_ === 2L), 2, 2)
    val night3Keys = ofCls(_ === 3L)
    // partner-visibility per stage, a pure function of doc_id — the same
    // predicate gates the truth frame here and the index states in the oracle
    def visAt(stage: Int)(c: Column): Column = stage match {
      case 0 => clsOf(c) =!= 3L
      case 1 => clsOf(c) =!= 3L && !(delOf(c) && clsOf(c) =!= 1L)
      case 2 => clsOf(c) =!= 3L && !delOf(c)
      case 3 => !delOf(c)
    }
    def truthAt(stage: Int): DataFrame = truthAll.filter(
      (clsOf(col("doc_a")) === 3L && visAt(stage)(col("doc_b"))) ||
        (clsOf(col("doc_b")) === 3L && visAt(stage)(col("doc_a"))))
    val out = new ServeLog("stage", "n_index_rows", "n_del_visible", "n_lookups",
      "n_candidates", "n_true", "n_hit")
    val hitPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val delByGen = scala.collection.mutable.Map.empty[Int, Map[Int, Long]]
    def serve(stage: Int): Unit = serveIndex(corpus, store, night3Keys, truthAt(stage),
        Seq(count(lit(1)).as("n_index_rows"),
          sum(when(delOf(col("doc_id")), 1L).otherwise(0L)).as("n_del_visible")),
        extra = Seq(col("gen").cast("int").as("gen"))) { r =>
      out += (stage, r("n_index_rows"), r("n_del_visible"), r("n_lookups"), r("n_candidates"),
        r("n_true"), r.hits.size)
      hitPairs(stage) = r.hits
      delByGen(stage) = r.back.filter(delOf(col("doc_id"))).groupBy(col("gen")).count()
        .collect().map(g => g.getInt(0) -> g.getLong(1)).toMap
    }
    serve(0)
    var rewritten = 0L
    def wave(gens: Seq[Int]): Unit = {
      val content = rows
        .filter(col("cls") =!= 3L && !delOf(col("doc_id")))
        .withColumn("gen", genOf).filter(col("gen").isin(gens.map(Int.box): _*))
        .select(col("doc_id"), col("band"), col("band_key"), col("gen"))
      rewritten += content.count()
      content.repartition(2)
        .write.partitionBy("gen").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(store.toString)
      // A generation whose rows are ALL manifest-named writes no content
      // under dynamic overwrite, so its stale directory would survive and
      // resurrect every deleted row on the next read-back — drop emptied
      // gen dirs explicitly (CorpusForget's surviving-bucket cleanup).
      val surviving = content.select(col("gen")).distinct()
        .collect().map(_.getInt(0)).toSet
      gens.filterNot(surviving).foreach(g =>
        graft.Fs.rmTree(store.resolve(s"gen=$g")))
    }
    wave(Seq(0, 2)); serve(1)
    wave(Seq(1)); serve(2)
    landGen(store, ofCls(_ === 3L), 3, 2)
    serve(3)
    val gens = graft.Fs.subdirs(store)
    val df = out.frame(spark, ("prec", "n_hit", "n_candidates"), ("rec", "n_hit", "n_true"))
    (df, IndexDeleteDetail(hitPairs.toMap, delByGen.toMap, gens, rewritten))
  }

  val dedupIndexDeleteSql: String = {
    val m = IncCalMod
    val dm = TxtDelMod; val dr = TxtDelRes
    def del(c: String): String = s"($c % $dm = $dr AND $c % $m <> 3)"
    // visibility per stage — the same pure function of doc_id the Spark
    // side's truth gate uses (gen 0/2 purged first, then gen 1)
    def vis(s: Int, c: String): String = s match {
      case 0 => s"$c % $m <> 3"
      case 1 => s"$c % $m <> 3 AND NOT (${del(c)} AND $c % $m <> 1)"
      case 2 => s"$c % $m <> 3 AND NOT ${del(c)}"
      case 3 => s"NOT ${del(c)}"
    }
    def truthPred(s: Int): String =
      s"(doc_a % $m = 3 AND (${vis(s, "doc_b")})) OR (doc_b % $m = 3 AND (${vis(s, "doc_a")}))"
    def candCte(s: Int): String =
      s"""ddl_c$s AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 3) a
         |  JOIN (SELECT * FROM mp_base WHERE ${vis(s, "doc_id")}) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |ddl_v$s AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM ddl_c$s c JOIN ddl_s5 sa ON sa.doc_id = c.doc_a JOIN ddl_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    def gradeRow(s: Int): String =
      s"""  SELECT CAST($s AS BIGINT) AS stage,
         |    (SELECT count(*) FROM mp_base WHERE ${vis(s, "doc_id")}) AS n_index_rows,
         |    (SELECT count(*) FROM mp_base WHERE (${vis(s, "doc_id")}) AND ${del("doc_id")}) AS n_del_visible,
         |    (SELECT count(*) FROM mp_base WHERE doc_id % $m = 3) AS n_lookups,
         |    (SELECT count(*) FROM ddl_c$s) AS n_candidates,
         |    (SELECT count(*) FROM truth WHERE ${truthPred(s)}) AS n_true,
         |    (SELECT count(*) FROM ddl_v$s v JOIN truth t USING (doc_a, doc_b) WHERE ${truthPred(s)}) AS n_hit""".stripMargin
    s"""WITH $mpChainSql,
       |ddl_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |${(0 to 3).map(candCte).mkString(",\n")},
       |ddl_g AS (
       |${(0 to 3).map(gradeRow).mkString("\n  UNION ALL\n")})
       |SELECT stage, n_index_rows, n_del_visible, n_lookups, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true, 1) + 0.000000001, 6) AS rec
       |FROM ddl_g ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- №215 dedup_index_compact
  /** Per-stage diagnostics behind [[dedupIndexCompact]]: verified-hit
    * pairs per stage, parquet file counts per generation at each
    * checkpoint, gen-0's (name, size) file evidence before/after, and
    * the consolidation's rewrite bill. */
  private[graft] final case class IndexCompactDetail(
      hitPairs: Map[Int, Set[(Long, Long)]],
      filesByGen: Map[Int, Map[String, Int]],
      gen0Before: Set[(String, Long)],
      gen0After: Set[(String, Long)],
      rewrittenRows: Long)

  /** COMPACT THE BANDED DEDUP INDEX — the fifth file-lifecycle leg
    * (calendar / retention / delete / backfill / COMPACTION), text side:
    * nightly appends leave each generation as a spray of small files
    * (every micro-batch append is its own parquet footer — №184/№190's
    * access path produces exactly this), and at 100 TB the store's read
    * bill becomes footer-bound long before it is byte-bound. Compaction
    * consolidates the small generations into ONE new generation with the
    * OBJECT-STORE-SAFE commit order — write the consolidated gen=10
    * FIRST (content from the CACHED row frame, never read-then-overwrite
    * of the live path), serve through the overlap, THEN drop the source
    * generation directories:
    *   S0  pre-compaction — gens 1/2 landed as 3 small appends each;
    *       night-3 probes serve the baseline
    *   S1  MID-compaction — consolidated AND source gens both visible:
    *       `n_rows` inflates by exactly |gen1|+|gen2| while `n_distinct`,
    *       candidates and hits DO NOT MOVE (the probe join's DISTINCT
    *       collapses duplicate band rows — the same candidate-dedup that
    *       makes №199's serve retry-safe makes write-then-drop
    *       compaction safe; a reader never needs a lock)
    *   S2  post-drop — censuses restored, the two source gens' 6 files
    *       are now gen=10's 2, gen 0's files BIT-IDENTICAL (the spec
    *       holds (name, size) evidence), hits unchanged
    *   S3  the next night appends as gen=3 NEXT TO the compacted layout
    *       — same-night pairs appear, nothing regressed: compaction must
    *       not break the append path
    * The lookup bill is stage-independent (compaction saves footers and
    * scan setup, never probe keys). Oracle: closed-form — S0-S2 share
    * one candidate set (visible DISTINCT membership never changes), S3
    * extends visibility to everything. Reference analogue: HBase minor
    * compaction — HFiles merge underneath a scan-consistent view
    * (app/batch/HBaseReader.kt's scans never see a half-compacted row).
    * At 100 TB: the consolidated write is one job over the touched
    * generations' rows (never the store), the drop is metadata, and the
    * mid state is not an anomaly but the steady state of a store that
    * compacts continuously. */
  def dedupIndexCompact(spark: SparkSession, dir: String): DataFrame =
    dedupIndexCompactDetail(spark, dir)._1

  private[graft] def dedupIndexCompactDetail(
      spark: SparkSession, dir: String): (DataFrame, IndexCompactDetail) = {
    val m = IncCalMod.toLong
    val corpus = new IndexCorpus(spark, dir)
    import corpus.{ofCls, truthAll}
    val store = graft.Fs.storeDir("idxcmp", dir)
    graft.Fs.rmTree(store)
    def land(r: DataFrame, gen: Int, nFiles: Int): Unit = landGen(store, r, gen, nFiles)
    land(ofCls(c => !c.isin(1L, 2L, 3L)), 0, 4)
    // the small-files storm: each night landed as 3 separate appends
    // (micro-batch-shaped), 2 files each → 6 footers per generation
    (0L to 2L).foreach { slice =>
      land(ofCls(_ === 1L).filter(expr(s"(doc_id DIV $m) % 3") === slice), 1, 2)
      land(ofCls(_ === 2L).filter(expr(s"(doc_id DIV $m) % 3") === slice), 2, 2)
    }
    val night3Keys = ofCls(_ === 3L)
    def filesByGen(): Map[String, Int] = graft.Fs.subdirs(store, "gen=")
      .map(g => g -> graft.Fs.parquetFiles(store.resolve(g)).size).toMap
    def gen0Evidence(): Set[(String, Long)] = graft.Fs.parquetFiles(store.resolve("gen=0"))
      .map(p => (p.getFileName.toString, java.nio.file.Files.size(p))).toSet
    // truth gate: pairs with a night-3 member whose partner is visible —
    // constant through S0-S2 (compaction moves files, never visibility)
    def truthAt(stage: Int): DataFrame =
      if (stage < 3) truthAll.filter(
        (clsOf(col("doc_a")) === 3L && clsOf(col("doc_b")) =!= 3L) ||
          (clsOf(col("doc_b")) === 3L && clsOf(col("doc_a")) =!= 3L))
      else truthAll.filter(clsOf(col("doc_a")) === 3L || clsOf(col("doc_b")) === 3L)
    val out = new ServeLog("stage", "n_rows", "n_distinct", "n_lookups", "n_candidates", "n_true", "n_hit")
    val hitPairs = scala.collection.mutable.Map.empty[Int, Set[(Long, Long)]]
    val filesAt = scala.collection.mutable.Map.empty[Int, Map[String, Int]]
    def serve(stage: Int): Unit = serveIndex(corpus, store, night3Keys, truthAt(stage), DistinctCensus) { r =>
      out += (stage, r("n_rows"), r("n_distinct"), r("n_lookups"), r("n_candidates"),
        r("n_true"), r.hits.size)
      hitPairs(stage) = r.hits
      filesAt(stage) = filesByGen()
    }
    serve(0)
    val gen0Before = gen0Evidence()
    // WRITE-then-drop: the consolidated generation lands while its
    // sources still serve — content from the CACHED frame
    val consolidated = ofCls(c => c.isin(1L, 2L))
    val rewritten = consolidated.count()
    land(consolidated, 10, 2)
    serve(1)
    graft.Fs.rmTree(store.resolve("gen=1"))
    graft.Fs.rmTree(store.resolve("gen=2"))
    serve(2)
    val gen0After = gen0Evidence()
    land(ofCls(_ === 3L), 3, 2)
    serve(3)
    val df = out.frame(spark, ("prec", "n_hit", "n_candidates"), ("rec", "n_hit", "n_true"))
    (df, IndexCompactDetail(hitPairs.toMap, filesAt.toMap, gen0Before, gen0After, rewritten))
  }

  val dedupIndexCompactSql: String = {
    val m = IncCalMod
    // visible DISTINCT membership: cls ≠ 3 through S0-S2, everything at S3
    def vis(s: Int, c: String): String =
      if (s < 3) s"$c % $m <> 3" else "TRUE"
    def truthPred(s: Int): String =
      if (s < 3) s"(doc_a % $m = 3 AND doc_b % $m <> 3) OR (doc_b % $m = 3 AND doc_a % $m <> 3)"
      else s"doc_a % $m = 3 OR doc_b % $m = 3"
    // S0-S2 share one candidate set (distinct membership constant);
    // S3 gets its own
    def candCte(tag: String, s: Int): String =
      s"""dcm_c$tag AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE doc_id % $m = 3) a
         |  JOIN (SELECT * FROM mp_base WHERE ${vis(s, "doc_id")}) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |dcm_v$tag AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM dcm_c$tag c JOIN dcm_s5 sa ON sa.doc_id = c.doc_a JOIN dcm_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    // n_rows per stage: S1 carries gens 1/2 twice; S3 adds gen 3
    def nRows(s: Int): String = s match {
      case 0 | 2 => s"SELECT count(*) FROM mp_base WHERE doc_id % $m <> 3"
      case 1 => s"SELECT count(*) + (SELECT count(*) FROM mp_base WHERE doc_id % $m IN (1, 2)) FROM mp_base WHERE doc_id % $m <> 3"
      case 3 => "SELECT count(*) FROM mp_base"
    }
    def gradeRow(s: Int, tag: String): String =
      s"""  SELECT CAST($s AS BIGINT) AS stage,
         |    (${nRows(s)}) AS n_rows,
         |    (SELECT count(*) FROM mp_base WHERE ${vis(s, "doc_id")}) AS n_distinct,
         |    (SELECT count(*) FROM mp_base WHERE doc_id % $m = 3) AS n_lookups,
         |    (SELECT count(*) FROM dcm_c$tag) AS n_candidates,
         |    (SELECT count(*) FROM truth WHERE ${truthPred(s)}) AS n_true,
         |    (SELECT count(*) FROM dcm_v$tag v JOIN truth t USING (doc_a, doc_b) WHERE ${truthPred(s)}) AS n_hit""".stripMargin
    s"""WITH $mpChainSql,
       |dcm_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |${candCte("a", 0)},
       |${candCte("b", 3)},
       |dcm_g AS (
       |${Seq(gradeRow(0, "a"), gradeRow(1, "a"), gradeRow(2, "a"), gradeRow(3, "b"))
           .mkString("\n  UNION ALL\n")})
       |SELECT stage, n_rows, n_distinct, n_lookups, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true, 1) + 0.000000001, 6) AS rec
       |FROM dcm_g ORDER BY stage""".stripMargin
  }

  val dedupIndexCalendarSql: String = {
    val m = IncCalMod
    def idxCls(n: Int): String = s"doc_id % $m NOT IN (${(n to 3).mkString(", ")})"
    def candCte(s: Int, keyPred: String, idxPred: String): String =
      s"""dcal_c$s AS MATERIALIZED (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM (SELECT * FROM mp_base WHERE $keyPred) a
         |  JOIN (SELECT * FROM mp_base WHERE $idxPred) b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
         |dcal_v$s AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b
         |  FROM dcal_c$s c JOIN dcal_s5 sa ON sa.doc_id = c.doc_a JOIN dcal_s5 sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 5
         |    >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 3)""".stripMargin
    def truthNight(n: Int): String =
      s"(doc_a % $m = $n AND doc_b % $m NOT IN (${(n to 3).mkString(", ")})) OR " +
        s"(doc_b % $m = $n AND doc_a % $m NOT IN (${(n to 3).mkString(", ")}))"
    def gradeRow(stage: Int, candS: Int, idxSql: String, keyPred: String, truthPred: String): String =
      s"""  SELECT CAST($stage AS BIGINT) AS stage,
         |    ($idxSql) AS n_index_rows,
         |    (SELECT count(*) FROM mp_base WHERE $keyPred) AS n_lookups,
         |    (SELECT count(*) FROM dcal_c$candS) AS n_candidates,
         |    (SELECT count(*) FROM truth WHERE $truthPred) AS n_true,
         |    (SELECT count(*) FROM dcal_v$candS v JOIN truth t USING (doc_a, doc_b) WHERE $truthPred) AS n_hit""".stripMargin
    def idxCount(pred: String): String = s"SELECT count(*) FROM mp_base WHERE $pred"
    val batchPred = s"doc_id % $m IN (1, 2, 3)"
    val auditTruth = s"doc_a % $m IN (1, 2, 3) OR doc_b % $m IN (1, 2, 3)"
    s"""WITH $mpChainSql,
       |dcal_s5 AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ws)-3), i ->
       |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |${candCte(1, s"doc_id % $m = 1", idxCls(1))},
       |${candCte(2, s"doc_id % $m = 2", idxCls(2))},
       |${candCte(3, s"doc_id % $m = 3", idxCls(3))},
       |${candCte(5, batchPred, "TRUE")},
       |dcal_g AS (
       |${Seq(
          gradeRow(1, 1, idxCount(idxCls(1)), s"doc_id % $m = 1", truthNight(1)),
          gradeRow(2, 2, idxCount(idxCls(2)), s"doc_id % $m = 2", truthNight(2)),
          gradeRow(3, 3, s"SELECT 2 * count(*) FROM mp_base WHERE ${idxCls(3)}",
            s"doc_id % $m = 3", truthNight(3)),
          gradeRow(4, 3, idxCount(idxCls(3)), s"doc_id % $m = 3", truthNight(3)),
          gradeRow(5, 5, "SELECT count(*) FROM mp_base", batchPred, auditTruth))
         .mkString("\n  UNION ALL\n")})
       |SELECT stage, n_index_rows, n_lookups, n_candidates, n_true, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_candidates, 1) + 0.000000001, 6) AS prec,
       |  round(CAST(n_hit AS DOUBLE) / greatest(n_true, 1) + 0.000000001, 6) AS rec
       |FROM dcal_g ORDER BY stage""".stripMargin
  }
}