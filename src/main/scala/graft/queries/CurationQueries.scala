package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and tokenization (SURVEY §2 №46-50): cross-document
  * line dedup (the RefinedWeb/CCNet boilerplate-removal step), PII
  * redaction, within-document repetition signals (the Gopher repetition
  * filters), the composed near-dup removal pipeline, and substring-level
  * exact dedup (the Lee et al. 2022 step at token-window granularity).
  *
  * Same cross-engine discipline as [[TextQueries]]: every constant
  * (segment width, regexes, thresholds) is defined once and spliced into
  * both the Spark plan and the DuckDB oracle.
  */
object CurationQueries {
  import TextQueries.{words, wordsSql, dupCorpus, dupCorpusSql}

  // ---------------------------------------------------------------- №46 line_dedup
  /** Words per synthetic "line". The corpus is single-line word soup, so
    * lines are deterministic fixed-width word windows — the SEGMENTATION is
    * synthetic, the operator semantics (remove any line whose document
    * frequency reaches [[LineDupThreshold]]) are the real RefinedWeb rule. */
  val LineWidth = 8

  /** A line is boilerplate when it appears in at least this many docs. */
  val LineDupThreshold = 2

  /** Cross-document line dedup, default join mode ("auto"): AQE picks the
    * mark-back strategy from the measured size of the common-line set. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupWith(spark, dir, "auto")

  /** Cross-document line dedup. Scale shape (the part that matters at
    * 100 TB): segment+explode is narrow and runs ONCE (the lines frame is
    * persisted — it feeds both the document-frequency aggregation and the
    * mark-back join); the df aggregation is ONE shuffle on the line text
    * (high-cardinality key, map-side partial count_distinct); the per-doc
    * reassembly is the last shuffle, on doc_id. No all-pairs anything:
    * cost is O(total lines), independent of how many docs share a line.
    *
    * The mark-back join is the scale knob. The common-line set GROWS WITH
    * THE CORPUS (at web scale, boilerplate lines are a large fraction of
    * all unique lines — unlike the constant-size centroid or eval-gram
    * broadcasts elsewhere), so it must never be force-broadcast:
    *   - "auto"    — no hint; AQE chooses from measured sizes (broadcasts
    *                 only while `common` is genuinely small).
    *   - "shuffle" — SHUFFLE_HASH equi-join on the line key: both sides
    *                 partition on a high-cardinality, even key, and each
    *                 task builds only its |common|/numPartitions slice —
    *                 bounded memory at any corpus size. This costs the
    *                 corpus-side reshuffle that "auto" avoids at proof
    *                 scale; at 100 TB it is the safe default.
    * LineDedupScaleSpec proves both modes return identical output on the
    * dup corpus (the BucketBits/DedupScaleSpec pattern);
    * PlanRegressionSpec pins the shuffle mode to a broadcast-free plan.
    *
    * Output keeps the doc even when every line was removed (clean_text = '').
    */
  def lineDedupWith(spark: SparkSession, dir: String, mode: String): DataFrame = {
    import spark.implicits._
    val w = LineWidth
    // persisted tokenization BARRIER before the per-line lambda: without
    // it CollapseProject inlines the regex+split chain into the transform,
    // re-tokenizing the doc once PER LINE (r5 finding on dedup_substring,
    // where the stride-1 version of the same shape cost 3-5x the query)
    val seg = graft.CacheRegistry.track(dupCorpus(spark, dir)
      .select($"doc_id", words($"text").as("ws"))
      .persist())
    val lines = graft.CacheRegistry.track(seg
      .withColumn("lines",
        expr(s"transform(sequence(0, (size(ws)-1) DIV $w), i -> concat_ws(' ', slice(ws, i*$w+1, $w)))"))
      .select($"doc_id", posexplode($"lines").as(Seq("idx", "line")))
      .persist())
    val common = lines.groupBy($"line")
      .agg(count_distinct($"doc_id").as("df"))
      .filter($"df" >= LineDupThreshold)
      .select($"line", lit(true).as("dup"))
    val marked = mode match {
      case "auto"    => lines.join(common, Seq("line"), "left")
      case "shuffle" => lines.join(common.hint("SHUFFLE_HASH"), Seq("line"), "left")
      case other     => throw new IllegalArgumentException(s"unknown line_dedup join mode: $other")
    }
    marked
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when($"dup", 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(!coalesce($"dup", lit(false)), struct($"idx", $"line")))),
            s => s.getField("line"))).as("clean_text"))
      .orderBy($"doc_id")
  }

  val lineDedupSql: String = {
    val w = LineWidth
    s"""WITH $dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |s AS (SELECT doc_id,
       |  list_transform(range(0, (len(ws)-1)//$w + 1),
       |                 i -> array_to_string(list_slice(ws, i*$w+1, i*$w+$w), ' ')) AS lines
       |  FROM d),
       |e AS (SELECT doc_id, lines, unnest(range(0, len(lines))) AS idx FROM s),
       |g AS (SELECT doc_id, idx, lines[idx+1] AS line FROM e),
       |common AS (SELECT line FROM g GROUP BY line
       |           HAVING count(DISTINCT doc_id) >= $LineDupThreshold),
       |m AS (SELECT g.doc_id, g.idx, g.line, c.line IS NOT NULL AS dup
       |      FROM g LEFT JOIN common c ON g.line = c.line)
       |SELECT doc_id, count(*) AS n_lines,
       |  CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_removed,
       |  coalesce(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE NOT dup), '') AS clean_text
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №47 pii_redact
  /** Email/phone regexes, RE2-compatible (the common subset of Java regex
    * and DuckDB's RE2 — character classes only, no backrefs/lookaround). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** documents with deterministic synthetic PII appended (the corpus has
    * none): ~2/3 of docs get an email, ~3/4 a phone number, both derived
    * from doc_id so each engine constructs the identical corpus — the same
    * trick as [[TextQueries.dupCorpus]]. */
  def piiCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents.select($"doc_id",
      concat($"text",
        when($"doc_id" % 3 =!= 2,
          concat(lit(" contact user"), $"doc_id".cast("string"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when($"doc_id" % 4 =!= 3,
          concat(lit(" call 555-"),
            lpad(($"doc_id" * 7 % 1000).cast("string"), 3, "0"), lit("-"),
            lpad(($"doc_id" * 13 % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        lit(" end")).as("text"))
  }

  // NB: no line below may BEGIN with `||` — this fragment is spliced into
  // another stripMargin string, which would eat one pipe.
  val piiCorpusSql: String =
    """pii AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 <> 2
      |         THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 4 <> 3
      |         THEN ' call 555-' || lpad(CAST(doc_id*7 % 1000 AS VARCHAR), 3, '0') ||
      |              '-' || lpad(CAST(doc_id*13 % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    ' end' AS text
      |  FROM documents)""".stripMargin

  /** PII redaction: count then replace emails and phone numbers with typed
    * placeholder tokens. Emails are redacted FIRST in both engines (an
    * email's local part could otherwise shadow a digit run). Pure per-row
    * regex projection — scan-bound at any scale, no shuffle at all. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    piiCorpus(spark, dir)
      .withColumn("n_emails", size(regexp_extract_all($"text", lit(EmailRe), lit(0))))
      .withColumn("pass1", regexp_replace($"text", EmailRe, "<EMAIL>"))
      .withColumn("n_phones", size(regexp_extract_all($"pass1", lit(PhoneRe), lit(0))))
      .select($"doc_id", $"n_emails", $"n_phones",
        regexp_replace($"pass1", PhoneRe, "<PHONE>").as("redacted"))
      .orderBy($"doc_id")
  }

  val piiRedactSql: String =
    s"""WITH $piiCorpusSql,
       |p AS (SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS pass1
       |  FROM pii)
       |SELECT doc_id, n_emails,
       |  len(regexp_extract_all(pass1, '$PhoneRe')) AS n_phones,
       |  regexp_replace(pass1, '$PhoneRe', '<PHONE>', 'g') AS redacted
       |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №48 doc_repetition
  /** Within-document repetition signals (the Gopher repetition filters):
    * duplicate-word ratio and the most-frequent-2-gram share. Relational
    * shape rather than per-row nested loops: explode 2-grams, ONE partial+
    * final count on (doc_id, gram) — a high-cardinality, skew-free key —
    * then a per-doc rollup reusing the doc_id prefix. Top-gram tiebreak is
    * deterministic (max count, then lexicographically GREATEST gram: a
    * plain max(struct(cnt, gram)) both engines can express). */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables(spark, dir).documents
      .withColumn("ws", words($"text"))
      .withColumn("n_tok", size($"ws"))
      .withColumn("n_uniq", size(array_distinct($"ws")))
      .withColumn("gram",
        explode(expr("CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1])) ELSE array() END")))
      .select($"doc_id", $"n_tok", $"n_uniq", $"gram")
    grams.groupBy($"doc_id", $"n_tok", $"n_uniq", $"gram")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id", $"n_tok", $"n_uniq")
      .agg(sum($"cnt").as("n_2grams"), max(struct($"cnt", $"gram")).as("top"))
      .select($"doc_id", $"n_tok", $"n_uniq", $"n_2grams",
        $"top.cnt".as("top_cnt"), $"top.gram".as("top_gram"),
        round($"top.cnt".cast("double") / $"n_2grams" + 1e-9, 6).as("top2_ratio"),
        round(lit(1.0) - $"n_uniq".cast("double") / $"n_tok" + 1e-9, 6).as("dup_word_ratio"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- №49 dedup_pipeline
  /** The near-dup removal pipeline composed END-TO-END — what a real
    * training-data pipeline runs after ingest: pair-finding
    * ([[TextQueries.dedupNgramJaccard]], PPJoin prefix-filtered) →
    * connected-component labels ([[TextQueries.clusterLabels]], iterative
    * min-label propagation) → drop every non-canonical member → surviving
    * corpus with per-keeper cluster accounting.
    *
    * Scale shape: the label frame covers only docs in a verified near-dup
    * pair — proportional to the corpus's duplicated fraction, so it GROWS
    * with the corpus and is never broadcast-hinted (AQE decides from
    * measured sizes; the corpus⋈labels equi-join on doc_id shuffles on a
    * uniform key at scale). Cluster sizes aggregate the label frame, not
    * the corpus. The DuckDB oracle reconstructs clusters with the
    * recursive transitive-closure CTE and joins them back — a fully
    * independent formulation of the whole pipeline.
    */
  def dedupPipeline(spark: SparkSession, dir: String): DataFrame =
    dedupPipelineWith(spark, dir, "ppjoin")

  /** Pair-finding mode of the pipeline: `ppjoin` (№24's prefix filter,
    * the [[dedupPipeline]] row), `minhash_mp` (№173's banded multiprobe)
    * or `simhash_mp` (№188) — the [[graft.queries.CurationQueries.lineDedup]]
    * auto/shuffle precedent. The modes differ ONLY in candidate
    * generation; all verify with the same exact τ=3/5 test, so on a
    * corpus where multiprobe recall is 1.0 (the gate corpora — measured
    * by №173) the ppjoin and minhash_mp pipelines are row-identical
    * (DedupPipelineModeSpec). At 100 TB the banded mode is the design
    * that survives: candidate cost is bucket-bounded (with the cap
    * guards), where the prefix join's gram lists grow with every
    * boilerplate cluster. `mpBudget` is `minhash_mp`'s probe budget
    * ([[HashDedup.mpCandidatesFrom]]; 0 = every probe). */
  private[graft] def dedupPipelineWith(spark: SparkSession, dir: String,
                                         mode: String, mpBudget: Int = 0): DataFrame = {
    import spark.implicits._
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val edges = mode match {
      case "ppjoin" => TextQueries.dedupNgramJaccardFrom(tok).select($"doc_a", $"doc_b")
      case "minhash_mp" =>
        TextQueries.verifyPairsOf(TextQueries.shingleFrameOf(tok),
          HashDedup.mpCandidatesFrom(tok, mpBudget)).select($"doc_a", $"doc_b")
      case "simhash_mp" =>
        TextQueries.verifyPairsOf(TextQueries.shingleFrameOf(tok),
          HashDedup.smpCandidatesFrom(tok)).select($"doc_a", $"doc_b")
      case other => throw new IllegalArgumentException(
        s"dedup pipeline mode must be ppjoin | minhash_mp | simhash_mp, got $other")
    }
    val labels = TextQueries.clusterLabelsFrom(spark, edges)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("n_members"))
    dupCorpus(spark, dir)
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"label", $"doc_id"))
      .filter($"doc_id" === $"cluster") // canonical keeper, or untouched singleton
      .join(sizes.select($"label".as("cluster"), $"n_members"), Seq("cluster"), "left")
      .select($"doc_id",
        coalesce($"n_members", lit(1L)).as("n_members"),
        size(words($"text")).cast("long").as("n_tok"))
      .orderBy($"doc_id")
  }

  /** №179 `dedup_pipeline_mp`: the pipeline under the banded-multiprobe
    * pair-finding mode, as its own driver row — the oracle rebuilds the
    * multiprobe candidate generation, the exact verification and the
    * recursive closure independently (NOT assuming mode equality, which
    * is a measured property of the corpus, not a theorem). */
  def dedupPipelineMp(spark: SparkSession, dir: String): DataFrame =
    dedupPipelineWith(spark, dir, "minhash_mp")

  val dedupPipelineSql: String =
    s"""WITH RECURSIVE ${TextQueries.clusterCteSql},
       |lab AS (SELECT doc_id, min(r) AS lbl FROM reach GROUP BY doc_id),
       |j AS (SELECT c.doc_id, coalesce(l.lbl, c.doc_id) AS cluster, c.text
       |      FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id),
       |k AS (SELECT cluster, count(*) AS n_members FROM j GROUP BY cluster)
       |SELECT j.doc_id, k.n_members,
       |  CAST(len(${wordsSql("j.text")}) AS BIGINT) AS n_tok
       |FROM j JOIN k ON j.cluster = k.cluster
       |WHERE j.doc_id = j.cluster
       |ORDER BY doc_id""".stripMargin

  /** The verification + closure + keeper suffix shared by the multiprobe
    * pipeline oracles (№180 full, №183 budgeted): consumes `mp_all`
    * (candidate pairs), re-verifies with the exact τ=3/5 5-gram test,
    * closes transitively, keeps canonical members. */
  private def pvPipelineSuffixSql: String =
    s"""pv_s AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(ws)-3), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
       |  FROM mp_d),
       |pv_e AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM mp_all c JOIN pv_s a ON a.doc_id = c.doc_a JOIN pv_s b ON b.doc_id = c.doc_b
       |  WHERE len(list_intersect(a.sh, b.sh)) * 5
       |    >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 3),
       |pv_nodes AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM pv_e UNION ALL SELECT doc_b FROM pv_e) u),
       |pv_sym AS (SELECT doc_a AS s, doc_b AS d FROM pv_e UNION ALL SELECT doc_b, doc_a FROM pv_e),
       |pv_reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM pv_nodes
       |  UNION
       |  SELECT pv_sym.s, pv_reach.r FROM pv_sym JOIN pv_reach ON pv_reach.doc_id = pv_sym.d),
       |pv_lab AS (SELECT doc_id, min(r) AS lbl FROM pv_reach GROUP BY doc_id),
       |pv_j AS (SELECT c.doc_id, coalesce(l.lbl, c.doc_id) AS cluster, c.text
       |      FROM corpus c LEFT JOIN pv_lab l ON c.doc_id = l.doc_id),
       |pv_k AS (SELECT cluster, count(*) AS n_members FROM pv_j GROUP BY cluster)
       |SELECT pv_j.doc_id, pv_k.n_members,
       |  CAST(len(${wordsSql("pv_j.text")}) AS BIGINT) AS n_tok
       |FROM pv_j JOIN pv_k ON pv_j.cluster = pv_k.cluster
       |WHERE pv_j.doc_id = pv_j.cluster
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ №188 dedup_pipeline_smp
  /** №188 `dedup_pipeline_smp`: the pipeline under the SIMHASH
    * margin-ranked multiprobe pair-finding mode ([[HashDedup
    * .smpCandidatesFrom]]) — the second production-grade LSH family
    * composed end-to-end (r13 verdict item 7). Same shared exact τ=3/5
    * verification and closure as every other mode; the oracle rebuilds
    * the 96-bit fingerprints, the 2×48 base band join, the margin-ASC
    * Q=[[HashDedup.PipelineSimMpQ]] radius-1 probes, the verification
    * and the recursive closure independently. UNLIKE the minhash_mp
    * mode, this one is NOT row-identical to ppjoin on the gate corpora
    * — published as measured (№174's discipline): simhash h≤3-of-96 is
    * a STRICTER similarity than 5-gram Jaccard τ=3/5, so τ-true pairs
    * whose token multisets diverge past 3 fingerprint bits never become
    * candidates (sf0.01: 507 keepers vs ppjoin's 476 — 31 extra
    * survivors from split clusters). What IS provable and spec-pinned
    * (DedupPipelineModeSpec): every smp edge is τ-verified, so smp's
    * edge set ⊆ ppjoin's complete τ-edge set, the cluster partition
    * refines it, and the keeper set is a SUPERSET of ppjoin's (each
    * split cluster keeps its min plus new minima). Scale shape:
    * identical bucket-capped band joins as №23/№182 (candidates
    * O(n²/2⁴⁸) per band + probeRows·cap),
    * one narrow fingerprint pass via the native SimHash96Sums
    * expression — at 100 TB this mode trades №180's 12-hash signature
    * pass for a single token-frequency pass, the cheaper signature when
    * token multisets (not 3-gram sets) drive similarity. */
  def dedupPipelineSmp(spark: SparkSession, dir: String): DataFrame =
    dedupPipelineWith(spark, dir, "simhash_mp")

  val dedupPipelineSmpSql: String =
    s"""WITH RECURSIVE ${HashDedup.smpChainSql},
       |mp_all AS (SELECT doc_a, doc_b FROM smp_bc UNION SELECT doc_a, doc_b FROM smp_pc),
       |$pvPipelineSuffixSql""".stripMargin

  val dedupPipelineMpSql: String =
    s"""WITH RECURSIVE ${HashDedup.mpChainSql},
       |mp_pc AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM mp_probe a JOIN mp_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id),
       |mp_all AS (SELECT doc_a, doc_b FROM mp_bc UNION SELECT doc_a, doc_b FROM mp_pc),
       |$pvPipelineSuffixSql""".stripMargin

  // ------------------------------------------------------------ №183 dedup_pipeline_mp_budget
  /** №183 `dedup_pipeline_mp_budget`: the banded-multiprobe pipeline mode
    * under a [[PipelineMpBudget]] probe budget — №181's
    * rare-first DF ranking put to PRODUCTION work, with the trade
    * measured BOTH ways. The budget cuts the probe-lookup bill 6×
    * (bands·r=12 → T=[[PipelineMpBudget]] keys per doc); output is a
    * RECALL DIAL graded at every SF rather than assumed equal —
    * row-identical at sf0.001/sf0.01, 2 keepers off at sf0.1 (2 missed
    * pairs of ~1600): this row's oracle rebuilds DF ranking → budget
    * filter → exact verification → recursive closure independently, and
    * DedupPipelineModeSpec pins budget ≡ full-probe ≡ ppjoin rows at
    * spec scale plus candidates(budget) ⊆ candidates(full) always. The
    * adversarial table then
    * records the honest NEGATIVE: on a batch SELF-JOIN dedup the DF
    * score's own cost exceeds the saved lookups — r14's fused
    * signature/DF aggregation (mpSigDfFrom) shrank it from ~2× to
    * ~1.3× wall at ×30, still a loss, plus a few missed pairs on
    * boilerplate corpora — the budget's real home is incremental
    * probing of new docs against a PERSISTED banded index, where
    * lookups dominate and the DF state is amortized signature-time
    * work (SCALING.md's per-family guidance; №187's density tie-break
    * is the ranking that wins there). */
  val PipelineMpBudget: Int = HashDedup.MpDefaultBudget

  def dedupPipelineMpBudget(spark: SparkSession, dir: String): DataFrame =
    dedupPipelineWith(spark, dir, "minhash_mp", PipelineMpBudget)

  val dedupPipelineMpBudgetSql: String =
    s"""WITH RECURSIVE ${HashDedup.mpChainSql},
       |${HashDedup.mpDfRankChainSql},
       |mp_pc AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM mpb_pr a JOIN mp_base b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
       |  WHERE a.pr <= $PipelineMpBudget),
       |mp_all AS (SELECT doc_a, doc_b FROM mp_bc UNION SELECT doc_a, doc_b FROM mp_pc),
       |$pvPipelineSuffixSql""".stripMargin

  // ---------------------------------------------------------------- №50 dedup_substring
  /** Tokens per window for substring-level dedup (stride 1 — every
    * token-aligned window, overlapping, unlike [[LineWidth]]'s disjoint
    * segments). */
  val SubstringWidth = 10

  /** Substring-level exact dedup signals — the Lee et al. 2022
    * deduplication step at token-window granularity: every fixed-width
    * token window is hashed, windows occurring ≥2 times ANYWHERE in the
    * corpus (cross- or within-doc, counted with multiplicity) are
    * duplicated, and each doc reports its duplicated-window coverage
    * ratio — the "how much of this doc is copied text" signal a pipeline
    * thresholds on.
    *
    * Same one-shuffle-per-stage shape as [[lineDedupWith]]: the window
    * frame is persisted (explode feeds both the occurrence count and the
    * mark-back); occurrence counting is ONE shuffle on a 64-bit xxhash64
    * key (8-byte shuffle rows, not window text — the output carries only
    * counts, so the hash is drop-in); mark-back join mode is the same
    * scale knob ("auto" = AQE, "shuffle" = SHUFFLE_HASH bounded-memory) —
    * the duplicated-window set grows with the corpus and must never be
    * force-broadcast. The DuckDB oracle deliberately groups by the window
    * TEXT itself — an independent formulation that also proves the hash
    * keying introduces no collisions at proof scale.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringWith(spark, dir, "auto")

  def dedupSubstringWith(spark: SparkSession, dir: String, mode: String): DataFrame = {
    import spark.implicits._
    val w = SubstringWidth
    // Two-level hashing with a persisted BARRIER between the levels: hash
    // every word ONCE (per doc), then key each window by xxhash64 over its
    // w word-hashes — no per-window slice/concat/string-hash, and the
    // barrier stops CollapseProject from inlining the tokenization into
    // the window lambda (which re-ran regex+split once PER WINDOW: the
    // barrier + tuple-hash rewrite took the sf0.1 bench from 8.1s to
    // ~1.5s). The window key is a composite hash; the oracle still groups
    // by window TEXT, so hash-collision-freedom stays independently proven.
    val seg = graft.CacheRegistry.track(dupCorpus(spark, dir)
      .select($"doc_id", transform(words($"text"), x => xxhash64(x)).as("wh"))
      .persist())
    val tuple = (0 until w).map(j => s"wh[i+$j]").mkString(", ")
    val wins = graft.CacheRegistry.track(seg
      .withColumn("hs",
        expr(s"CASE WHEN size(wh) >= $w THEN transform(sequence(0, size(wh)-$w), i -> xxhash64($tuple)) ELSE array() END"))
      .select($"doc_id", explode($"hs").as("h"))
      .persist())
    val dup = wins.groupBy($"h")
      .agg(count(lit(1)).as("occ"))
      .filter($"occ" >= 2)
      .select($"h", lit(true).as("dup"))
    val marked = mode match {
      case "auto"    => wins.join(dup, Seq("h"), "left")
      case "shuffle" => wins.join(dup.hint("SHUFFLE_HASH"), Seq("h"), "left")
      case other     => throw new IllegalArgumentException(s"unknown dedup_substring join mode: $other")
    }
    marked.groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when($"dup", 1L).otherwise(0L)).as("n_dup"))
      .select($"doc_id", $"n_windows", $"n_dup",
        round($"n_dup".cast("double") / $"n_windows" + 1e-9, 6).as("dup_ratio"))
      .orderBy($"doc_id")
  }

  val dedupSubstringSql: String = {
    val w = SubstringWidth
    s"""WITH $dupCorpusSql,
       |d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
       |wn AS (SELECT doc_id,
       |  unnest(list_transform(range(0, len(ws)-$w+1),
       |                        i -> array_to_string(list_slice(ws, i+1, i+$w), ' '))) AS win
       |  FROM d WHERE len(ws) >= $w),
       |occ AS (SELECT win FROM wn GROUP BY win HAVING count(*) >= 2),
       |m AS (SELECT wn.doc_id, o.win IS NOT NULL AS dup
       |      FROM wn LEFT JOIN occ o ON wn.win = o.win)
       |SELECT doc_id, count(*) AS n_windows,
       |  CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_dup,
       |  round(CAST(count(*) FILTER (WHERE dup) AS DOUBLE)/count(*) + 0.000000001, 6) AS dup_ratio
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №59 gopher_filter
  /** Gopher rule thresholds (Rae et al. 2021 §A1.1), the word-count and
    * repetition bounds adapted to the proof corpus's scale (docs are
    * 10-99 words here vs Gopher's web pages) so every rule class FIRES at
    * proof size — the rule STRUCTURE (range checks, required stopwords,
    * repetition caps, first-failure reason) is the real filter. */
  val GfMinWords = 20      // Gopher: 50
  val GfMaxWords = 100000  // Gopher: 100,000
  val GfMinMeanWord = 3.0  // Gopher: 3
  val GfMaxMeanWord = 10.0 // Gopher: 10
  val GfMinStops = 2       // Gopher: ≥2 of a fixed stop set
  val GfMaxDupWord = 0.60  // word-level adaptation of the dup-fraction caps
  val GfMaxTop2 = 0.10     // Gopher: top-2-gram share ≤ 0.20

  /** Composite Gopher quality filter: the classic pretraining heuristic
    * gate as ONE verdict — per-rule booleans folded into keep + a
    * deterministic first-failure reason (rule order: word count → mean
    * word length → stopwords → dup words → top 2-gram). Same relational
    * shape as [[docRepetition]] (two hash aggs on the skew-free
    * (doc, gram) key, no window); the extra features (mean word length,
    * distinct-stopword count) ride the same scan. Docs with <2 words have
    * no 2-grams and are excluded in both engines (the corpus has none). */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gopherVerdictFrom(Tables(spark, dir).documents).orderBy($"doc_id")
  }

  /** The Gopher verdict over ANY (doc_id, text) frame — the SHARED
    * fragment [[gopherFilter]] and [[crawlPipeline]] both consume, so the
    * composed pipeline cannot drift from the standalone gate. Docs with
    * fewer than 2 tokens drop here (no 2-grams); compositional callers
    * LEFT-join and coalesce to (keep=false, 'word_count'). Unordered. */
  private[queries] def gopherVerdictFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stops = TextQueries.stopwords
    val grams = docs
      .withColumn("ws", words($"text"))
      .withColumn("n_tok", size($"ws"))
      .withColumn("n_uniq", size(array_distinct($"ws")))
      .withColumn("sum_wlen",
        aggregate(transform($"ws", w => length(w)), lit(0), (a, b) => a + b).cast("long"))
      .withColumn("n_stop",
        size(filter(array_distinct($"ws"), w => w.isin(stops.map(lit(_)): _*))))
      .withColumn("gram",
        explode(expr("CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1])) ELSE array() END")))
      .select($"doc_id", $"n_tok", $"n_uniq", $"sum_wlen", $"n_stop", $"gram")
    val stats = grams
      .groupBy($"doc_id", $"n_tok", $"n_uniq", $"sum_wlen", $"n_stop", $"gram")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id", $"n_tok", $"n_uniq", $"sum_wlen", $"n_stop")
      .agg(sum($"cnt").as("n_2grams"), max(struct($"cnt", $"gram")).as("top"))
      .withColumn("mwl", $"sum_wlen".cast("double") / $"n_tok")
      .withColumn("dupr", lit(1.0) - $"n_uniq".cast("double") / $"n_tok")
      .withColumn("top2", $"top.cnt".cast("double") / $"n_2grams")
      .withColumn("r_wc", $"n_tok" >= GfMinWords && $"n_tok" <= GfMaxWords)
      .withColumn("r_mwl", $"mwl" >= GfMinMeanWord && $"mwl" <= GfMaxMeanWord)
      .withColumn("r_stop", $"n_stop" >= GfMinStops)
      .withColumn("r_dup", $"dupr" <= GfMaxDupWord)
      .withColumn("r_top2", $"top2" <= GfMaxTop2)
    stats.select($"doc_id", $"n_tok",
      round($"mwl" + 1e-9, 6).as("mean_wlen"), $"n_stop",
      round($"dupr" + 1e-9, 6).as("dup_word_ratio"),
      round($"top2" + 1e-9, 6).as("top2_ratio"),
      ($"r_wc" && $"r_mwl" && $"r_stop" && $"r_dup" && $"r_top2").as("keep"),
      when(!$"r_wc", "word_count").when(!$"r_mwl", "mean_word_length")
        .when(!$"r_stop", "stopwords").when(!$"r_dup", "dup_words")
        .when(!$"r_top2", "top_2gram").otherwise("kept").as("reason"))
  }

  /** Gopher verdict CTE chain over `src(doc_id, <textCol>)` with prefix
    * `p` — the SQL twin of [[gopherVerdictFrom]], shared by
    * [[gopherFilterSql]] and [[crawlPipelineSql]]. Final relation `${p}f`
    * (docs with <2 tokens drop, as in the Spark fragment). */
  private[queries] def gopherCtesSql(src: String, textCol: String, p: String): String = {
    val stops = TextQueries.stopwords.map(s => s"'$s'").mkString(", ")
    s"""${p}d AS (SELECT doc_id, ${wordsSql(textCol)} AS ws FROM $src),
       |${p}t AS (SELECT doc_id, len(ws) AS n_tok, len(list_distinct(ws)) AS n_uniq,
       |  CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_wlen,
       |  len(list_filter(list_distinct(ws), w -> w IN ($stops))) AS n_stop,
       |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
       |  FROM ${p}d WHERE len(ws) >= 2),
       |${p}c AS (SELECT doc_id, n_tok, n_uniq, sum_wlen, n_stop, gram, count(*) AS cnt
       |      FROM ${p}t GROUP BY 1, 2, 3, 4, 5, 6),
       |${p}r AS (SELECT doc_id, n_tok, n_uniq, sum_wlen, n_stop,
       |        CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_2grams,
       |        cnt AS top_cnt,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
       |      FROM ${p}c),
       |${p}f AS (SELECT doc_id, n_tok,
       |        CAST(sum_wlen AS DOUBLE)/n_tok AS mwl, n_stop,
       |        1.0 - CAST(n_uniq AS DOUBLE)/n_tok AS dupr,
       |        CAST(top_cnt AS DOUBLE)/n_2grams AS top2,
       |        n_tok >= $GfMinWords AND n_tok <= $GfMaxWords AS r_wc,
       |        CAST(sum_wlen AS DOUBLE)/n_tok >= $GfMinMeanWord AND CAST(sum_wlen AS DOUBLE)/n_tok <= $GfMaxMeanWord AS r_mwl,
       |        n_stop >= $GfMinStops AS r_stop,
       |        1.0 - CAST(n_uniq AS DOUBLE)/n_tok <= $GfMaxDupWord AS r_dup,
       |        CAST(top_cnt AS DOUBLE)/n_2grams <= $GfMaxTop2 AS r_top2
       |      FROM ${p}r WHERE rn = 1)""".stripMargin
  }

  /** The verdict + first-failure-reason projection over `${p}f`. */
  private[queries] def gopherVerdictCols(p: String): String =
    s"""${p}f.r_wc AND ${p}f.r_mwl AND ${p}f.r_stop AND ${p}f.r_dup AND ${p}f.r_top2 AS keep,
       |  CASE WHEN NOT ${p}f.r_wc THEN 'word_count'
       |       WHEN NOT ${p}f.r_mwl THEN 'mean_word_length'
       |       WHEN NOT ${p}f.r_stop THEN 'stopwords'
       |       WHEN NOT ${p}f.r_dup THEN 'dup_words'
       |       WHEN NOT ${p}f.r_top2 THEN 'top_2gram'
       |       ELSE 'kept' END AS reason""".stripMargin

  val gopherFilterSql: String =
    s"""WITH ${gopherCtesSql("documents", "text", "g")}
       |SELECT doc_id, n_tok,
       |  round(mwl + 0.000000001, 6) AS mean_wlen, n_stop,
       |  round(dupr + 0.000000001, 6) AS dup_word_ratio,
       |  round(top2 + 0.000000001, 6) AS top2_ratio,
       |  ${gopherVerdictCols("g").replace("gf.", "")}
       |FROM gf ORDER BY doc_id""".stripMargin

  val docRepetitionSql: String =
    s"""WITH d AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents),
       |t AS (SELECT doc_id, len(ws) AS n_tok, len(list_distinct(ws)) AS n_uniq,
       |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
       |  FROM d WHERE len(ws) >= 2),
       |c AS (SELECT doc_id, n_tok, n_uniq, gram, count(*) AS cnt
       |      FROM t GROUP BY 1, 2, 3, 4),
       |r AS (SELECT doc_id, n_tok, n_uniq,
       |        CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_2grams,
       |        cnt AS top_cnt, gram AS top_gram,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
       |      FROM c)
       |SELECT doc_id, n_tok, n_uniq, n_2grams, top_cnt, top_gram,
       |  round(CAST(top_cnt AS DOUBLE)/n_2grams + 0.000000001, 6) AS top2_ratio,
       |  round(1.0 - CAST(n_uniq AS DOUBLE)/n_tok + 0.000000001, 6) AS dup_word_ratio
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №69 html_extract
  /** Web-extraction stage — the FIRST step of a crawl pipeline, before
    * any of the quality/dedup operators run: strip boilerplate BLOCKS
    * (script/nav/aside/footer — the trafilatura-style structural cut),
    * then strip remaining markup, then normalize whitespace. The corpus
    * is plain text, so each doc is first wrapped in a deterministic page
    * frame (title, nav menu, ad block, footer) CONSTRUCTED IDENTICALLY in
    * both engines — extraction must recover exactly the original article
    * body, which the md5 in the output proves per document.
    *
    * Scale shape: pure per-row regex projection, zero shuffle before the
    * presentation sort; all three regex passes are RE2-safe (non-greedy
    * block matches, no lookbehind) so the oracle runs them verbatim. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    htmlExtractFrom(Tables(spark, dir).documents)
      .select($"doc_id",
        length($"html").as("raw_len"),
        length($"extracted").as("extract_len"),
        md5($"extracted").as("extract_md5"))
      .orderBy($"doc_id")
  }

  /** Page-frame construction + extraction over ANY (doc_id, text) frame —
    * the SHARED fragment behind [[htmlExtract]] and [[crawlPipeline]].
    * Returns (doc_id, html, extracted), unordered. */
  private[queries] def htmlExtractFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val page = concat(
      lit("<html><head><title>Doc "), $"doc_id",
      lit("</title><script>var x=1;</script></head><body><nav>home | about | contact</nav><aside>BUY NOW - LIMITED OFFER</aside><p>"),
      $"text",
      lit("</p><footer>copyright 2020 example corp</footer></body></html>"))
    docs
      .select($"doc_id", page.as("html"))
      .withColumn("noblocks", regexp_replace($"html",
        "<(script|nav|aside|footer|title)>.*?</(script|nav|aside|footer|title)>", ""))
      .withColumn("notags", regexp_replace($"noblocks", "<[^>]*>", ""))
      .withColumn("extracted", trim(regexp_replace($"notags", "\\s+", " ")))
      .select($"doc_id", $"html", $"extracted")
  }

  // ---------------------------------------------------------------- №70 url_dedup
  /** URL canonicalization + dedup — the crawl pipeline's STEP ZERO, before
    * fetch/extract (RefinedWeb §3.1 dedups by normalized URL before any
    * content processing): lowercase scheme+host, strip default ports and a
    * `www.` prefix, drop the fragment, remove tracking params
    * (utm_* / fbclid / gclid), SORT the surviving query params, strip
    * trailing slashes — then exact-dedup on the canonical form. The
    * corpus has no URL column, so each doc derives one of four surface
    * variants of a shared canonical target (mixed-case host, explicit
    * :443, tracking params, param order, fragment), constructed
    * IDENTICALLY in both engines; canonicalization must collapse each
    * 4-variant group to one row.
    *
    * Scale shape: pure per-row regex/array projection, then ONE hash agg
    * on the canonical string (uniform key; the same md5-groupBy shape as
    * dedup_exact) — no join, no window. All patterns RE2-safe, run
    * verbatim in the oracle. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    urlCanonicalFrom(Tables(spark, dir).documents)
      .groupBy($"canonical_url")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_variants"))
      .orderBy($"canonical_url")
  }

  /** Surface-URL derivation + canonicalization over ANY (doc_id, ...)
    * frame — the SHARED fragment behind [[urlDedup]] and
    * [[crawlPipeline]]. Returns (doc_id, canonical_url), unordered. */
  private[queries] def urlCanonicalFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", expr(
        """CASE CAST(doc_id % 4 AS INT)
          |  WHEN 0 THEN concat('https://www.example.com/articles/item', CAST(doc_id DIV 4 AS STRING), '?a=1&b=2')
          |  WHEN 1 THEN concat('https://WWW.Example.COM:443/articles/item', CAST(doc_id DIV 4 AS STRING), '/?b=2&a=1')
          |  WHEN 2 THEN concat('https://example.com/articles/item', CAST(doc_id DIV 4 AS STRING), '?utm_source=rss&b=2&utm_campaign=fall&a=1')
          |  ELSE concat('https://www.example.com:443/articles/item', CAST(doc_id DIV 4 AS STRING), '?b=2&a=1#section-2')
          |END""".stripMargin).as("url"))
      .withColumn("scheme", lower(regexp_extract($"url", "^([a-zA-Z]+)://", 1)))
      .withColumn("host", regexp_replace(regexp_replace(
        lower(regexp_extract($"url", "^[a-zA-Z]+://([^/?#]+)", 1)),
        ":(443|80)$", ""), "^www\\.", ""))
      .withColumn("path", regexp_replace(
        regexp_extract($"url", "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), "/+$", ""))
      .withColumn("params", expr(
        "array_join(array_sort(filter(split(regexp_extract(url, '\\\\?([^#]*)', 1), '&'), p -> p != '' AND NOT p rlike '^(utm_|fbclid|gclid)')), '&')"))
      .select($"doc_id", concat($"scheme", lit("://"), $"host", $"path",
        when($"params" =!= "", concat(lit("?"), $"params")).otherwise(lit(""))).as("canonical_url"))
  }

  /** Surface-URL + canonicalization CTE chain over `src(doc_id, ...)` —
    * the SQL twin of [[urlCanonicalFrom]]; final relation `canon(doc_id,
    * canonical_url)`. Shared by [[urlDedupSql]] and [[crawlPipelineSql]]. */
  private def urlCanonCtesSql(src: String): String =
    s"""u AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN 'https://www.example.com/articles/item' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2'
       |      WHEN 1 THEN 'https://WWW.Example.COM:443/articles/item' || CAST(doc_id // 4 AS VARCHAR) || '/?b=2&a=1'
       |      WHEN 2 THEN 'https://example.com/articles/item' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=rss&b=2&utm_campaign=fall&a=1'
       |      ELSE 'https://www.example.com:443/articles/item' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section-2'
       |    END AS url
       |  FROM $src),
       |uc AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
       |    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)), ':(443|80)$$', ''), '^www\\.', '') AS host,
       |    regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/+$$', '') AS path,
       |    array_to_string(list_sort(list_filter(str_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid|gclid)'))), '&') AS params
       |  FROM u),
       |canon AS (
       |  SELECT doc_id, scheme || '://' || host || path ||
       |    CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canonical_url
       |  FROM uc)""".stripMargin

  val urlDedupSql: String =
    s"""WITH ${urlCanonCtesSql("documents")}
       |SELECT canonical_url, min(doc_id) AS keeper, count(*) AS n_variants
       |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin

  /** Page-frame + extraction CTE chain over `src(doc_id, text)` — the
    * SQL twin of [[htmlExtractFrom]]; final relation `e(doc_id, html,
    * extracted)`. Shared by [[htmlExtractSql]] and [[crawlPipelineSql]]. */
  private def htmlCtesSql(src: String): String =
    s"""h AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |    '</title><script>var x=1;</script></head><body><nav>home | about | contact</nav><aside>BUY NOW - LIMITED OFFER</aside><p>' ||
       |    text ||
       |    '</p><footer>copyright 2020 example corp</footer></body></html>' AS html
       |  FROM $src),
       |e AS (
       |  SELECT doc_id, html,
       |    trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(html, '<(script|nav|aside|footer|title)>.*?</(script|nav|aside|footer|title)>', '', 'g'),
       |        '<[^>]*>', '', 'g'),
       |      '\\s+', ' ', 'g')) AS extracted
       |  FROM h)""".stripMargin

  val htmlExtractSql: String =
    s"""WITH ${htmlCtesSql("documents")}
       |SELECT doc_id, length(html) AS raw_len, length(extracted) AS extract_len,
       |  md5(extracted) AS extract_md5
       |FROM e ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №73 crawl_pipeline
  /** The crawl-side composed FLAGSHIP — the pipeline a web corpus actually
    * runs, end to end: URL canonicalization + dedup (№70, keep one fetch
    * per canonical target) → page extraction (№69, boilerplate cut on the
    * kept pages) → the Gopher quality gate (№59) over the EXTRACTED text.
    * Every stage consumes the standalone operator's SHARED fragment
    * ([[urlCanonicalFrom]] / [[htmlExtractFrom]] / [[gopherVerdictFrom]]),
    * so the composition cannot drift from the operators it composes — the
    * export_records / corpus_curate / pretrain_pipeline discipline applied
    * to the crawl stages.
    *
    * Scale shape: canonicalization + extraction are per-row projections;
    * the only shuffles are the keeper min-agg on the canonical string and
    * the gopher gram aggs — all on uniform keys. Docs whose extracted body
    * has <2 tokens LEFT-join to (keep=false, 'word_count'), identically in
    * both engines. */
  def crawlPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // persisted: consumed by BOTH the pages branch and the final
    // canonical_url recovery join — unpersisted, the corpus-wide
    // canonicalization projection + min-agg shuffle would run twice
    val keepers = graft.CacheRegistry.track(urlCanonicalFrom(docs)
      .groupBy($"canonical_url").agg(min($"doc_id").as("doc_id")).persist())
    val pages = htmlExtractFrom(docs.join(keepers.select($"doc_id"), "doc_id"))
    val extracted = graft.CacheRegistry.track(
      pages.select($"doc_id", $"extracted".as("text")).persist())
    val verdicts = gopherVerdictFrom(extracted)
      .select($"doc_id", $"n_tok", $"keep", $"reason")
    extracted
      .join(keepers, "doc_id")
      .join(verdicts, Seq("doc_id"), "left")
      .select($"doc_id", $"canonical_url", length($"text").as("extract_len"),
        coalesce($"n_tok", lit(0)).as("n_tok"),
        coalesce($"keep", lit(false)).as("keep"),
        coalesce($"reason", lit("word_count")).as("reason"))
      .orderBy($"doc_id")
  }

  val crawlPipelineSql: String =
    s"""WITH ${urlCanonCtesSql("documents")},
       |keepers AS (SELECT canonical_url, min(doc_id) AS doc_id FROM canon GROUP BY 1),
       |surv AS (SELECT k.doc_id, k.canonical_url, d.text
       |         FROM keepers k JOIN documents d ON d.doc_id = k.doc_id),
       |${htmlCtesSql("surv")},
       |ex AS (SELECT doc_id, extracted AS text FROM e),
       |${gopherCtesSql("ex", "text", "g")}
       |SELECT s.doc_id, s.canonical_url, length(ex.text) AS extract_len,
       |  coalesce(gf.n_tok, 0) AS n_tok,
       |  coalesce(gf.r_wc AND gf.r_mwl AND gf.r_stop AND gf.r_dup AND gf.r_top2, false) AS keep,
       |  coalesce(CASE WHEN NOT gf.r_wc THEN 'word_count'
       |       WHEN NOT gf.r_mwl THEN 'mean_word_length'
       |       WHEN NOT gf.r_stop THEN 'stopwords'
       |       WHEN NOT gf.r_dup THEN 'dup_words'
       |       WHEN NOT gf.r_top2 THEN 'top_2gram'
       |       ELSE 'kept' END, 'word_count') AS reason
       |FROM surv s
       |JOIN ex ON ex.doc_id = s.doc_id
       |LEFT JOIN gf ON gf.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- №111 doc_chunk
  /** Token-window document chunking — the retrieval-prep step (RAG index
    * build, context-window packing): each document becomes overlapping
    * windows of [[ChunkTokens]] tokens at stride [[ChunkStride]]
    * (consecutive chunks share ChunkTokens − ChunkStride tokens of
    * context), last chunk short. Chunk identity is (doc_id, chunk_id)
    * with the content's md5 for downstream chunk-level dedup.
    *
    * Scale shape: a pure per-row projection — tokenize once, derive the
    * chunk count arithmetically, explode a chunk-index sequence, slice
    * the token array per index. Zero shuffles, zero joins; the output is
    * chunk-proportional and streams straight to an index sink. The chunk
    * count formula (1 + ⌈max(n−C,0)/S⌉) guarantees full coverage: every
    * token position lands in ≥1 chunk (DocChunkSpec reconstructs each
    * document exactly from its chunks). */
  val ChunkTokens = 64
  val ChunkStride = 48

  def docChunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val C = ChunkTokens; val S = ChunkStride
    Tables(spark, dir).documents
      .select($"doc_id", expr(s"filter(${wordsExprSql("text")}, w -> w <> '')").as("toks"))
      .withColumn("n_tok", size($"toks").cast("long"))
      .filter($"n_tok" > 0)
      .withColumn("n_chunks",
        (lit(1L) + (greatest($"n_tok" - C, lit(0L)) + (S - 1)) / S).cast("long"))
      .select($"doc_id", $"toks", $"n_tok",
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_id"))
      .withColumn("start_tok", ($"chunk_id" * S).cast("long"))
      .withColumn("n_tok_chunk", least(lit(C.toLong), $"n_tok" - $"start_tok"))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"), $"start_tok",
        $"n_tok_chunk",
        md5(array_join(slice($"toks", ($"start_tok" + 1).cast("int"),
          $"n_tok_chunk".cast("int")), " ")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** words() as a SQL-expression string usable inside expr() higher-order
    * functions (the Column form cannot nest in a lambda). */
  private def wordsExprSql(c: String): String =
    s"split(trim(regexp_replace(lower($c), '[^a-z0-9]+', ' ')), ' ')"

  val docChunkSql: String = {
    val C = ChunkTokens; val S = ChunkStride
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(${wordsSql("text")}, w -> w <> '') AS toks
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
       |    1 + (greatest(CAST(len(toks) AS BIGINT) - $C, 0) + ${S - 1}) // $S AS n_chunks
       |  FROM d WHERE len(toks) > 0),
       |x AS (
       |  SELECT doc_id, toks, n_tok, unnest(range(0, n_chunks)) AS chunk_id FROM n)
       |SELECT doc_id, chunk_id, chunk_id * $S AS start_tok,
       |  least($C, n_tok - chunk_id * $S) AS n_tok_chunk,
       |  md5(array_to_string(list_slice(toks, chunk_id * $S + 1,
       |    chunk_id * $S + least($C, n_tok - chunk_id * $S)), ' ')) AS chunk_md5
       |FROM x ORDER BY doc_id, chunk_id""".stripMargin
  }
}
