package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline accounting operators (SURVEY §2 №52-55): the
  * steps a pretraining pipeline runs AFTER curation and BEFORE the
  * tokenizer — model-based quality filtering (a fastText-style linear
  * classifier), domain-mixture weighting (temperature-scaled sampling
  * weights per source), vocabulary coverage / OOV accounting against the
  * corpus's own top-K vocab, and GPT-style sequence packing (concatenate
  * documents, cut into fixed-length training sequences).
  *
  * Same cross-engine discipline as [[TextQueries]]: every constant is
  * defined once and spliced into both the Spark plan and the DuckDB
  * oracle; floating arithmetic is either per-row IEEE ops written in the
  * identical order in both engines, or integer-exact (micro-unit sums)
  * where a multi-row float sum would be association-order-dependent.
  */
object PipelineQueries {
  import TextQueries.{words, wordsSql, stopwords}

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  // ---------------------------------------------------------------- №52 quality_classifier
  /** Fixed classifier coefficients (a stand-in for fastText/logreg weights
    * a real pipeline trains offline — the ENGINE contract is "score every
    * document with a linear model over cheap text features", and shipping
    * fixed public weights keeps the oracle independent). Scoring stays in
    * LOGIT space: a sigmoid would drag in libm exp() whose last-ulp
    * behavior differs across engines, while the linear form is plain IEEE
    * add/multiply in a fixed order — bit-identical everywhere. keep = logit ≥ 0
    * (the sigmoid≥0.5 decision boundary, sigmoid-free). */
  val ClfBias = -1.75 // decision boundary sits near the corpus's median logit → the gate FILTERS (≈half kept), not rubber-stamps
  val WStop = 3.0    // stopword ratio: prose-ish text
  val WUniq = 2.0    // lexical diversity
  val WPunct = -1.5  // punctuation per token: markup/boilerplate penalty
  val WLen = 1.0     // saturating length prior

  /** ONE definition of the classifier's linear form, shared by
    * `quality_classifier` and the composed `pretrain_pipeline` (and their
    * oracles via [[logitSqlOf]]) so the decision boundary can never drift
    * between the standalone operator and the pipeline. Evaluation order is
    * fixed: bias + stop + uniq + punct + len. */
  private[queries] def logitOf(fStop: Column, fUniq: Column, fPunct: Column, fLen: Column): Column =
    lit(ClfBias) + lit(WStop) * fStop + lit(WUniq) * fUniq +
      lit(WPunct) * fPunct + lit(WLen) * fLen
  private[queries] def logitSqlOf(fStop: String, fUniq: String, fPunct: String, fLen: String): String =
    s"$ClfBias + $WStop*$fStop + $WUniq*$fUniq + $WPunct*$fPunct + $WLen*$fLen"

  /** The four classifier features over (text, ws, n_tok) columns — the
    * Spark side of the feature definitions; [[featureSqlOf]] mirrors them. */
  private[queries] def featuresOf(text: Column, ws: Column, nTok: Column): Seq[Column] = Seq(
    size(filter(ws, w => w.isin(stopwords.map(lit(_)): _*))).cast("double") / greatest(nTok, lit(1)),
    size(array_distinct(ws)).cast("double") / greatest(nTok, lit(1)),
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") / greatest(nTok, lit(1)),
    least(lit(1.0), length(text).cast("double") / 500.0))
  private[queries] def featureSqlOf(text: String, ws: String): Seq[String] = Seq(
    s"CAST(len(list_filter($ws, w -> w IN (${inList(stopwords)}))) AS DOUBLE)/greatest(len($ws),1)",
    s"CAST(len(list_distinct($ws)) AS DOUBLE)/greatest(len($ws),1)",
    s"CAST(length(regexp_replace($text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)/greatest(len($ws),1)",
    s"least(1.0, CAST(length($text) AS DOUBLE)/500.0)")

  /** Model-based quality filter: linear classifier over the same cheap
    * features [[TextQueries.qualityScore]] exposes. Pure per-row
    * projection — scan-bound at any scale, zero shuffle (plan-pinned). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir).documents
      .withColumn("ws", words($"text"))
      .withColumn("n_tok", size($"ws"))
    val Seq(fStop, fUniq, fPunct, fLen) = featuresOf($"text", $"ws", $"n_tok")
    base
      .withColumn("f_stop", fStop)
      .withColumn("f_uniq", fUniq)
      .withColumn("f_punct", fPunct)
      .withColumn("f_len", fLen)
      .withColumn("logit", logitOf($"f_stop", $"f_uniq", $"f_punct", $"f_len"))
      .select($"doc_id",
        round($"f_stop" + 1e-9, 6).as("f_stop"),
        round($"f_uniq" + 1e-9, 6).as("f_uniq"),
        round($"f_punct" + 1e-9, 6).as("f_punct"),
        round($"f_len" + 1e-9, 6).as("f_len"),
        round($"logit" + 1e-9, 6).as("logit"),
        ($"logit" >= 0.0).as("keep"))
      .orderBy($"doc_id")
  }

  val qualityClassifierSql: String = {
    val Seq(fs, fu, fp, fl) = featureSqlOf("text", "ws")
    s"""WITH d AS (SELECT doc_id, text, ${wordsSql("text")} AS ws FROM documents),
       |f AS (SELECT doc_id,
       |  $fs AS f_stop,
       |  $fu AS f_uniq,
       |  $fp AS f_punct,
       |  $fl AS f_len
       |  FROM d),
       |s AS (SELECT doc_id, f_stop, f_uniq, f_punct, f_len,
       |  ${logitSqlOf("f_stop", "f_uniq", "f_punct", "f_len")} AS logit
       |  FROM f)
       |SELECT doc_id,
       |  round(f_stop + 0.000000001, 6) AS f_stop,
       |  round(f_uniq + 0.000000001, 6) AS f_uniq,
       |  round(f_punct + 0.000000001, 6) AS f_punct,
       |  round(f_len + 0.000000001, 6) AS f_len,
       |  round(logit + 0.000000001, 6) AS logit,
       |  logit >= 0.0 AS keep
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- №53 domain_mix
  /** Mixture temperature α=0.5 → weight ∝ share^0.5. Written as sqrt()
    * (IEEE correctly-rounded in both engines) rather than pow() (libm). */
  val MixTokenBudget = 1000000L

  /** Domain-mixture weighting: per-source token counts → temperature-
    * scaled sampling weights → effective epochs at a fixed token budget.
    * The DoReMi/Pile-style "how much of each domain does the run see".
    *
    * Scale shape: ONE shuffle — the per-source aggregation (map-side
    * partial sums; #sources is bounded, and count/sum partials make the
    * reduce side #sources rows total). Everything after operates on the
    * per-source frame (rows = #domains, a few dozen at any corpus size):
    * the totals are single-row broadcast cross joins, never a window over
    * the data. Float discipline: token shares divide exact BIGINTs;
    * the temperature-scaled weight normalizer sums MICRO-UNIT BIGINTs
    * (round(sqrt(share)·10⁶)) — an exact integer sum, immune to the
    * association-order nondeterminism of a float sum.
    */
  /** Per-source mixture frame shared by [[domainMix]] and [[mixSample]]:
    * source, n_docs, n_tokens, token_share, weight, epochs — the SAME
    * weights the standalone operator reports are the ones the sampler
    * applies. Bounded frame (#sources rows). */
  private[queries] def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE action, one corpus scan: both grand totals ride unpartitioned
    // windows over the per-source frame — legitimate ONLY because that
    // frame is #domains rows (a few dozen at any corpus size; the
    // bounded-calendar-rollup justification), and 2 jobs cheaper than
    // materializing a cache + two single-row broadcast cross joins
    // (measured 0.63 → 0.35s at sf0.1: the broadcasts were half the
    // query's wall time).
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    Tables(spark, dir).documents
      .select($"source", size(words($"text")).cast("long").as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .withColumn("tot_tokens", sum($"n_tokens").over(wAll))
      .withColumn("token_share", round($"n_tokens".cast("double") / $"tot_tokens" + 1e-9, 6))
      .withColumn("su", round(sqrt($"token_share") * 1000000.0 + 1e-9, 0).cast("long"))
      .withColumn("tot_su", sum($"su").over(wAll))
      .withColumn("weight", round($"su".cast("double") / $"tot_su" + 1e-9, 6))
      .select($"source", $"n_docs", $"n_tokens", $"tot_tokens", $"token_share", $"weight",
        round(lit(MixTokenBudget.toDouble) * $"weight" / $"n_tokens" + 1e-9, 6).as("epochs"))
  }

  /** The oracle's mirror of [[mixWeights]] — CTE chain ending in `mixw`. */
  private[queries] val mixWeightsSql: String =
    s"""per_source AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CAST(len(${wordsSql("text")}) AS BIGINT)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per_source),
       |scaled AS (
       |  SELECT source, n_docs, n_tokens, tot_tokens,
       |    round(CAST(n_tokens AS DOUBLE)/tot_tokens + 0.000000001, 6) AS token_share,
       |    CAST(round(sqrt(round(CAST(n_tokens AS DOUBLE)/tot_tokens + 0.000000001, 6))*1000000.0 + 0.000000001, 0) AS BIGINT) AS su
       |  FROM per_source CROSS JOIN tot),
       |tot2 AS (SELECT CAST(sum(su) AS BIGINT) AS tot_su FROM scaled),
       |mixw AS (
       |  SELECT source, n_docs, n_tokens, tot_tokens, token_share,
       |    round(CAST(su AS DOUBLE)/tot_su + 0.000000001, 6) AS weight,
       |    round(${MixTokenBudget}.0 * (round(CAST(su AS DOUBLE)/tot_su + 0.000000001, 6)) / n_tokens + 0.000000001, 6) AS epochs
       |  FROM scaled CROSS JOIN tot2)""".stripMargin

  def domainMix(spark: SparkSession, dir: String): DataFrame =
    mixWeights(spark, dir)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("token_share"),
        col("weight"), col("epochs"))
      .orderBy(col("source"))

  val domainMixSql: String =
    s"""WITH $mixWeightsSql
       |SELECT source, n_docs, n_tokens, token_share, weight, epochs
       |FROM mixw ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- №61 mix_sample
  /** Sample-budget fraction of the corpus: the sampler draws
    * weight-proportional token mass totalling ~this fraction of all
    * tokens. Corpus-RELATIVE (unlike [[MixTokenBudget]]) so the sampler
    * actually samples at every proof SF — an absolute budget saturates
    * every rate at 1 once the corpus is smaller than it. */
  val MixSampleFraction = 0.5

  /** Deterministic mixture sampling — the [[domainMix]] weights APPLIED:
    * each source is downsampled at rate min(1, frac·total·weight/n_s) by
    * the md5-threshold rule stratified_sample established: keep a doc iff
    * the first 8 hex digits of md5(doc_id) sort below the rate's 32-bit
    * hex threshold — engine-independent, run-reproducible, and a pure
    * per-row predicate (no shuffle beyond the per-source accounting
    * rollup).
    *
    * Scale shape: the weight frame is #sources rows (broadcast join onto
    * the corpus scan), the keep predicate is scan-bound, and the output
    * rollup is one map-side-partial aggregation on the bounded source key.
    * Float discipline: the rate is 6dp-rounded BEFORE the ×2³² floor, so
    * both engines derive the identical threshold string. */
  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = mixWeights(spark, dir)
      .select($"source",
        round(least(lit(1.0),
          lit(MixSampleFraction) * $"tot_tokens" * $"weight" / $"n_tokens") + 1e-9, 6).as("rate"))
      .withColumn("thresh",
        lower(lpad(hex(floor($"rate" * 4294967296.0).cast("long")), 8, "0")))
    Tables(spark, dir).documents
      .select($"source", $"doc_id", size(words($"text")).cast("long").as("n_tok"))
      .join(broadcast(rates), Seq("source"))
      .withColumn("keep",
        $"rate" >= 1.0 || substring(md5($"doc_id".cast("string")), 1, 8) < $"thresh")
      .groupBy($"source", $"rate")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"keep", $"n_tok").otherwise(0L)).as("tok_kept"))
      .select($"source", $"rate", $"n_docs", $"n_kept", $"tok_kept",
        round($"n_kept".cast("double") / $"n_docs" + 1e-9, 6).as("realized"))
      .orderBy($"source")
  }

  val mixSampleSql: String =
    s"""WITH $mixWeightsSql,
       |rates AS (
       |  SELECT source,
       |    round(least(1.0, $MixSampleFraction * tot_tokens * weight / n_tokens) + 0.000000001, 6) AS rate,
       |    lpad(lower(to_hex(CAST(floor(round(least(1.0, $MixSampleFraction * tot_tokens * weight / n_tokens) + 0.000000001, 6) * 4294967296.0) AS BIGINT))), 8, '0') AS thresh
       |  FROM mixw),
       |d AS (
       |  SELECT doc.source, doc.doc_id,
       |    CAST(len(${wordsSql("doc.text")}) AS BIGINT) AS n_tok,
       |    r.rate, r.thresh
       |  FROM documents doc JOIN rates r ON doc.source = r.source),
       |k AS (SELECT source, rate, n_tok,
       |        rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < thresh AS keep
       |      FROM d)
       |SELECT source, rate, count(*) AS n_docs,
       |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       |  CAST(coalesce(sum(n_tok) FILTER (WHERE keep), 0) AS BIGINT) AS tok_kept,
       |  round(CAST(count(*) FILTER (WHERE keep) AS DOUBLE)/count(*) + 0.000000001, 6) AS realized
       |FROM k GROUP BY source, rate ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- №135 contract_check
  /** Data-contract expectations report (the great-expectations/dbt-test
    * staple — the gate a pipeline runs on every landed batch before
    * downstream jobs trust it): a declarative rule list over documents
    * and events — uniqueness, non-emptiness, enum membership, pattern
    * match, range bounds — each emitting (table, rule, n_checked,
    * n_violations, pass). The report deliberately mixes green rules with
    * review thresholds that DO flag rows on this corpus (length/value
    * caps), so both verdict branches are exercised.
    *
    * Scale shape: ONE conditional-aggregation pass per table (all rules
    * ride the same scan as filtered sums — never one scan per rule),
    * output bounded by the rule count. Uniqueness via count −
    * count(distinct) inside the same agg. */
  def contractCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langs = Seq("en", "de", "es", "fr", "zh")
    val types = Seq("view", "click", "purchase", "signup", "error")
    def report(tab: String, agg: DataFrame, rules: Seq[String]): DataFrame =
      agg.select(lit(tab).as("tab"),
        expr(s"stack(${rules.length}, " +
          rules.map(r => s"'$r', v_$r").mkString(", ") + ") AS (rule, n_violations)"),
        $"n_checked")
        .select($"tab", $"rule", $"n_checked", $"n_violations",
          ($"n_violations" === 0L).as("pass"))
    val d = Tables(spark, dir).documents.agg(
      count(lit(1)).as("n_checked"),
      (count(lit(1)) - countDistinct($"doc_id")).as("v_doc_id_unique"),
      sum(when($"text".isNull || length($"text") === 0, 1L).otherwise(0L)).as("v_text_nonempty"),
      sum(when(!$"lang".isin(langs.map(lit(_)): _*), 1L).otherwise(0L)).as("v_lang_enum"),
      sum(when(!$"source".rlike("^src[0-9]+$"), 1L).otherwise(0L)).as("v_source_pattern"),
      sum(when(length($"text") > 256, 1L).otherwise(0L)).as("v_text_len_le_256"))
    val e = Tables(spark, dir).events.agg(
      count(lit(1)).as("n_checked"),
      sum(when(!$"event_type".isin(types.map(lit(_)): _*), 1L).otherwise(0L)).as("v_event_type_enum"),
      sum(when(!($"value" > 0.0), 1L).otherwise(0L)).as("v_value_positive"),
      sum(when($"value" > 250.0, 1L).otherwise(0L)).as("v_value_le_250"),
      sum(when($"ts_ms" < 1704067200000L || $"ts_ms" >= 1706745600000L, 1L).otherwise(0L)).as("v_ts_in_window"))
    report("documents", d,
      Seq("doc_id_unique", "text_nonempty", "lang_enum", "source_pattern", "text_len_le_256"))
      .unionByName(report("events", e,
        Seq("event_type_enum", "value_positive", "value_le_250", "ts_in_window")))
      .orderBy($"tab", $"rule")
  }

  val contractCheckSql: String =
    s"""WITH cc_d AS (
       |  SELECT count(*) AS n_checked,
       |    count(*) - count(DISTINCT doc_id) AS v_doc_id_unique,
       |    CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_text_nonempty,
       |    CAST(sum(CASE WHEN lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS v_lang_enum,
       |    CAST(sum(CASE WHEN NOT regexp_matches(source, '^src[0-9]+$$') THEN 1 ELSE 0 END) AS BIGINT) AS v_source_pattern,
       |    CAST(sum(CASE WHEN length(text) > 256 THEN 1 ELSE 0 END) AS BIGINT) AS v_text_len_le_256
       |  FROM documents),
       |cc_e AS (
       |  SELECT count(*) AS n_checked,
       |    CAST(sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS v_event_type_enum,
       |    CAST(sum(CASE WHEN NOT (value > 0.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_value_positive,
       |    CAST(sum(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_value_le_250,
       |    CAST(sum(CASE WHEN epoch_ms(ts) < 1704067200000 OR epoch_ms(ts) >= 1706745600000 THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_in_window
       |  FROM events),
       |rows_d AS (
       |  SELECT 'documents' AS tab, r.rule, n_checked, r.v AS n_violations
       |  FROM cc_d, LATERAL (VALUES
       |    ('doc_id_unique', v_doc_id_unique), ('text_nonempty', v_text_nonempty),
       |    ('lang_enum', v_lang_enum), ('source_pattern', v_source_pattern),
       |    ('text_len_le_256', v_text_len_le_256)) r(rule, v)),
       |rows_e AS (
       |  SELECT 'events' AS tab, r.rule, n_checked, r.v AS n_violations
       |  FROM cc_e, LATERAL (VALUES
       |    ('event_type_enum', v_event_type_enum), ('value_positive', v_value_positive),
       |    ('value_le_250', v_value_le_250), ('ts_in_window', v_ts_in_window)) r(rule, v))
       |SELECT tab, rule, n_checked, n_violations, n_violations = 0 AS pass
       |FROM (SELECT * FROM rows_d UNION ALL SELECT * FROM rows_e)
       |ORDER BY tab, rule""".stripMargin

  // ---------------------------------------------------------------- №134 epoch_expand
  /** The training mix MATERIALIZED upward — №53 domain_mix's epochs
    * weights applied by doc REPLICATION (the T5/Gopher "low-resource
    * domains repeat" step; №61 mix_sample is the downsample half, this is
    * the epochs > 1 half): each doc emits floor(epochs) copies plus one
    * fractional copy decided by the №42 md5-threshold rule on the
    * fractional part (deterministic, run-reproducible, per-row). The
    * expansion emits (doc_id, copy_idx) REFERENCE pairs with token
    * counts — never the text: at 100 TB the loader resolves text by id
    * (replicating payload bytes epochs× would multiply the corpus IO for
    * nothing). Driver row = the per-source accounting (n_out, realized
    * epochs vs planned, tokens out) — planned and realized must agree to
    * the fractional-sampling noise, and the oracle recomputes every
    * copy-count decision.
    *
    * Scale shape: the weight/threshold frame is #sources rows (broadcast
    * by size); the expansion is a per-row explode bounded by
    * ceil(epochs); accounting is one bounded hash agg on source. The
    * fractional part reuses epochs − floor(epochs) — exact in doubles
    * (integer subtraction below 2⁵²), so both engines derive the
    * identical 32-bit threshold. */
  def epochExpand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = mixWeights(spark, dir)
      .select($"source", $"n_docs", $"epochs",
        floor($"epochs").cast("long").as("whole"),
        lpad(lower(hex(floor(($"epochs" - floor($"epochs")) * 4294967296.0).cast("long"))), 8, "0").as("thresh"))
    val docs = Tables(spark, dir).documents
      .select($"source", $"doc_id", size(words($"text")).cast("long").as("n_tok"))
    val expanded = docs.join(broadcast(rates), "source")
      .withColumn("extra",
        (substring(md5($"doc_id".cast("string")), 1, 8) < $"thresh").cast("long"))
      .withColumn("n_copies", $"whole" + $"extra")
      .filter($"n_copies" > 0)
      .select($"source", $"n_docs", $"epochs", $"doc_id", $"n_tok",
        explode(expr("sequence(1L, n_copies)")).as("copy_idx"))
    expanded.groupBy($"source", $"n_docs", $"epochs")
      .agg(count(lit(1)).as("n_out"), sum($"n_tok").as("tokens_out"))
      .select($"source", $"n_docs", $"epochs", $"n_out", $"tokens_out",
        round($"n_out".cast("double") / $"n_docs" + lit(1e-9), 6).as("realized_epochs"))
      .orderBy($"source")
  }

  val epochExpandSql: String =
    s"""WITH $mixWeightsSql,
       |ee_r AS (
       |  SELECT source, n_docs, epochs,
       |    CAST(floor(epochs) AS BIGINT) AS whole,
       |    lpad(lower(to_hex(CAST(floor((epochs - floor(epochs)) * 4294967296.0) AS BIGINT))), 8, '0') AS thresh
       |  FROM mixw),
       |ee_d AS (
       |  SELECT doc.source, r.n_docs, r.epochs, doc.doc_id,
       |    CAST(len(${wordsSql("doc.text")}) AS BIGINT) AS n_tok,
       |    r.whole + CASE WHEN substr(md5(CAST(doc.doc_id AS VARCHAR)), 1, 8) < r.thresh
       |      THEN 1 ELSE 0 END AS n_copies
       |  FROM documents doc JOIN ee_r r ON doc.source = r.source)
       |SELECT source, n_docs, epochs,
       |  CAST(sum(n_copies) AS BIGINT) AS n_out,
       |  CAST(sum(n_tok * n_copies) AS BIGINT) AS tokens_out,
       |  round(CAST(sum(n_copies) AS DOUBLE) / n_docs + 0.000000001, 6) AS realized_epochs
       |FROM ee_d WHERE n_copies > 0
       |GROUP BY source, n_docs, epochs
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- №54 vocab_coverage
  /** Vocab size for OOV accounting — FIXED (the tokenizer-vocab analogue),
    * so the vocab broadcast is constant-size at any corpus scale, the same
    * justification as contamination_check's eval grams. */
  val VocabK = 100

  /** Vocabulary coverage: build the corpus's top-[[VocabK]] token vocab
    * (count desc, token asc — deterministic), then score every document's
    * out-of-vocabulary rate against it. The "how much of the corpus does a
    * K-token vocab explain" signal a tokenizer-budget decision reads.
    *
    * Scale shape: the exploded token frame is persisted (it feeds BOTH the
    * vocab aggregation and the per-doc rollup — one segmentation pass, the
    * r3 lesson); vocab build is one hash agg (map-side partials on a
    * high-cardinality token key) + TakeOrdered (per-partition top-K, no
    * global sort); the mark-back join broadcasts the CONSTANT-K vocab; the
    * per-doc rollup is one shuffle on doc_id. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = graft.CacheRegistry.track(Tables(spark, dir).documents
      .select($"doc_id", explode(words($"text")).as("tok"))
      .persist())
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok".asc).limit(VocabK)
      .select($"tok", lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"doc_id", $"n_tok", $"n_oov",
        round($"n_oov".cast("double") / $"n_tok" + 1e-9, 6).as("oov_ratio"))
      .orderBy($"doc_id")
  }

  val vocabCoverageSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok FROM toks GROUP BY tok
       |  ORDER BY count(*) DESC, tok ASC LIMIT $VocabK),
       |m AS (SELECT t.doc_id, v.tok IS NOT NULL AS in_vocab
       |      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
       |SELECT doc_id, count(*) AS n_tok,
       |  CAST(count(*) FILTER (WHERE NOT in_vocab) AS BIGINT) AS n_oov,
       |  round(CAST(count(*) FILTER (WHERE NOT in_vocab) AS DOUBLE)/count(*) + 0.000000001, 6) AS oov_ratio
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- №62 corpus_stats
  /** Corpus audit statistics per language: doc counts, token totals, mean
    * and interpolated token-count percentiles (p50/p90/p99) — the
    * distribution snapshot a pipeline reads before choosing filter
    * thresholds and sequence lengths. Spark's `percentile` and DuckDB's
    * `quantile_cont` share the (n−1)·p linear-interpolation definition,
    * so the values agree exactly on integer inputs; the mean divides
    * exact BIGINTs. One map-side-partial aggregation on the bounded lang
    * key. Scale note: exact percentile keeps a per-group value-count map —
    * fine for bounded metrics like token counts; for unbounded-cardinality
    * metrics swap in approx_percentile (mergeable t-digest sketch, same
    * plan shape, no oracle equality). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    corpusStatsWith(spark, dir, exact = true)

  /** `exact = true` (the oracle-matched default) keeps the interpolated
    * `percentile` — a per-group value map, fine for bounded metrics like
    * token counts. `exact = false` is the UNBOUNDED-cardinality scale
    * path, routed through the repo's own №158 quantile sketch
    * ([[graft.functions.DyadicCountMin]]): constant
    * levels·depth·width state per lang regardless of value cardinality,
    * linear merge, and — unlike a histogram or `percentile` — the
    * quantile read-out scans the constant value DOMAIN grid, never the
    * data's distinct values, so nothing in this path keys on
    * cardinality. Sketch percentiles are discrete values with a
    * one-sided rank-overcount bias (est ≤ exact, №158's guarantee), so
    * no oracle equality — CorpusStatsApproxSpec pins the one-sidedness,
    * an exact plain-Scala grid replay, and bounds the drift instead.
    *
    * `levels` sizes the sketch's value domain to [0, 2^levels) (default
    * [[TextQueries.QsLevels]], the gate geometry — 10 bits / 1023 tokens;
    * 17 covers 128k-token contexts). The clamp is never silent: approx
    * output carries `n_clamped` (docs whose n_tok exceeded the domain and
    * were reported AT the ceiling), so a corpus that outgrows the dial is
    * visible in the audit row itself, not discovered when p99 flatlines. */
  def corpusStatsWith(spark: SparkSession, dir: String, exact: Boolean,
                      levels: Int = TextQueries.QsLevels): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir).documents
      .select($"lang", size(words($"text")).cast("long").as("n_tok"))
    if (exact)
      base.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("n_tokens"),
          expr("percentile(n_tok, 0.5)").as("p50"),
          expr("percentile(n_tok, 0.9)").as("p90"),
          expr("percentile(n_tok, 0.99)").as("p99"))
        .select($"lang", $"n_docs", $"n_tokens",
          round($"n_tokens".cast("double") / $"n_docs" + 1e-9, 6).as("mean_tok"),
          round($"p50" + 1e-9, 6).as("p50"),
          round($"p90" + 1e-9, 6).as("p90"),
          round($"p99" + 1e-9, 6).as("p99"))
        .orderBy($"lang")
    else {
      require(levels >= 1 && levels <= 20, s"corpusStats levels $levels out of sketch range [1, 20]")
      val (dp, wd) = (TextQueries.QsDepth, TextQueries.QsWidth)
      val mx = (1L << levels) - 1
      val agg = base.groupBy($"lang").agg(
        count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum(when($"n_tok" > mx, 1L).otherwise(0L)).as("n_clamped"),
        graft.functions.DyadicCountMin.sketch(least($"n_tok", lit(mx)), levels, dp, wd).as("g"))
      val slots = agg.select($"lang", posexplode($"g"))
        .select($"lang", $"pos".cast("long").as("i"), $"col".as("c"))
      // candidates = the full (constant) value domain, NOT the data
      val cand = agg.select($"lang", $"n_docs")
        .crossJoin(spark.range(0L, 1L << levels).select($"id".as("v")))
      val er = cand.select($"lang", $"v")
        .withColumn("l", explode(sequence(lit(0), lit(levels - 1))))
        .filter(expr("(shiftright(v + 1, l) & 1) = 1"))
        .withColumn("idx", expr("shiftright(v + 1, l) - 1"))
        .withColumn("d", explode(sequence(lit(0), lit(dp - 1))))
        .withColumn("i", expr(s"(l * $dp + d) * $wd + ${TextQueries.qsSlotExpr}"))
        .join(broadcast(slots), Seq("lang", "i"))
        .groupBy($"lang", $"v", $"l").agg(min($"c").as("pq"))
        .groupBy($"lang", $"v").agg(sum($"pq").as("er0"))
      val ranks = cand.join(er, Seq("lang", "v"), "left")
        .withColumn("est_rank",
          when($"v" === mx, $"n_docs").otherwise(coalesce($"er0", lit(0L))))
      val pcts = ranks.groupBy($"lang").agg(
        min(when(lit(100) * $"est_rank" >= lit(50) * $"n_docs", $"v")).as("p50"),
        min(when(lit(100) * $"est_rank" >= lit(90) * $"n_docs", $"v")).as("p90"),
        min(when(lit(100) * $"est_rank" >= lit(99) * $"n_docs", $"v")).as("p99"))
      agg.select($"lang", $"n_docs", $"n_tokens", $"n_clamped").join(pcts, "lang")
        .select($"lang", $"n_docs", $"n_tokens",
          round($"n_tokens".cast("double") / $"n_docs" + 1e-9, 6).as("mean_tok"),
          round($"p50".cast("double") + 1e-9, 6).as("p50"),
          round($"p90".cast("double") + 1e-9, 6).as("p90"),
          round($"p99".cast("double") + 1e-9, 6).as("p99"),
          $"n_clamped")
        .orderBy($"lang")
    }
  }

  val corpusStatsSql: String =
    s"""WITH d AS (
       |  SELECT lang, CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_tok) AS DOUBLE)/count(*) + 0.000000001, 6) AS mean_tok,
       |  round(quantile_cont(n_tok, 0.5) + 0.000000001, 6) AS p50,
       |  round(quantile_cont(n_tok, 0.9) + 0.000000001, 6) AS p90,
       |  round(quantile_cont(n_tok, 0.99) + 0.000000001, 6) AS p99
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- №55 sequence_pack
  /** Training-sequence length in tokens (proof-sized; production uses the
    * model's context length). */
  val SeqLen = 256

  /** Packing bins. Each bin concatenates independently — bins exist so the
    * cumulative-offset window is PARTITIONED (per-bin sort, parallel across
    * the cluster), never a single global ordered cumsum. At 100 TB set
    * bins ≈ O(cluster parallelism); packing quality is unaffected (only
    * the last sequence per bin is short). */
  val PackBins = 8

  /** GPT-style sequence packing: concatenate documents (in a deterministic
    * hash order, so packing is run-reproducible and length-decorrelated)
    * and cut every [[SeqLen]] tokens; documents span sequence boundaries
    * (no padding, the standard pretraining layout). Emits per-sequence
    * accounting: how many docs START in each sequence, their token mass,
    * and how many of them cross into the next sequence.
    *
    * Scale shape: ONE shuffle (hash-partition on bin) + a per-bin
    * within-partition sort for the running-offset window, then a hash agg
    * on (bin, seq) — no global sort anywhere. All arithmetic is integer
    * (token counts, offsets, integer division), so both engines agree
    * exactly. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedSeqs(spark, dir).orderBy($"bin", $"seq_id")
  }

  /** The packed-sequence accounting frame (bin, seq_id, n_docs, n_tokens,
    * n_spanning) — shared by [[sequencePack]] and [[sequenceShuffle]] so
    * the shuffled training order can never disagree with the packing. */
  private[queries] def packedSeqs(spark: SparkSession, dir: String): DataFrame =
    seqAccounting(packOffsets(docTokens(spark, dir)))

  // ---------------------------------------------------------------- the packed-shard store
  /** THE PACKED-SHARD STORE'S ONE PATH. №55's packing, №67's shard deal
    * and №68's shard files form one store, and each of its steps has one
    * definition that every packing row (sequence_pack, pretrain_pipeline,
    * sequence_manifest, tokenize_pack, sequence_shuffle, pack_increment,
    * epoch_resume) and shard drill (train_shard_sink, shard_increment,
    * shard_forget, shard_compact, stream_shard, the speculation drill)
    * calls:
    *  - offsets: [[packOffsets]], the per-bin window ordered by
    *    ([batch,] md5(doc_id), doc_id); [[incBatch]] is the two-phase
    *    corpus's batch; [[spanKeys]], every sequence a doc's tokens land
    *    in (the span-covering forget keys);
    *  - sequences: [[seqAccounting]] (n_docs, n_tokens, n_spanning) and
    *    [[seqContent]] (n_tokens, the ordered `docs` list);
    *  - shard key and position: [[shardKeyed]] (hk, shard) and
    *    [[shardPos]];
    *  - the files: [[graft.sources.TrainShardSink]]'s `lineOf` (the line
    *    format), `writeLines` (the writer), `readBack` (lines with the
    *    generation their file name carries), `resolve` (last writer wins,
    *    optional tombstone drop) and `fileCensus`;
    *  - the oracle's shard hash: [[hex8]].
    * Each drill's store root is `graft.Fs.storeDir(kind, dir)`. This
    * definition is the corpus side: per-doc token counts (doc_id, n_tok). */
  private[graft] def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))

  /** Per-bin packing offsets: `docs` (doc_id, n_tok[, batch], …) gains
    * bin, start_off and seq_id from ONE window per bin ordered by
    * ([batch,] md5(doc_id), doc_id). With a batch column each batch
    * tail-appends to its bin: a later batch's offsets continue from the
    * bin's total over the earlier ones. */
  private[graft] def packOffsets(docs: DataFrame): DataFrame = {
    val order = (if (docs.columns.contains("batch")) Seq(col("batch")) else Nil) ++
      Seq(md5(col("doc_id").cast("string")), col("doc_id"))
    val w = Window.partitionBy(col("bin")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("bin", pmod(col("doc_id"), lit(PackBins)))
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("seq_id", spanSeqs._1)
  }

  /** The first and last sequence a packed doc's tokens land in — the one
    * span rule behind [[seqAccounting]]'s n_spanning and [[spanKeys]]. */
  private def spanSeqs: (Column, Column) =
    (expr(s"start_off DIV $SeqLen"), expr(s"(start_off + n_tok - 1) DIV $SeqLen"))

  /** The keys a forget must reach: every (bin, seq_id) that any token of
    * a doc in `off` (packing offsets) lands in — where the doc starts and
    * every sequence it spans into. */
  private[graft] def spanKeys(off: DataFrame): DataFrame = {
    val (first, last) = spanSeqs
    off.select(col("bin"), explode(sequence(first, last)).as("seq_id")).distinct()
  }

  /** Per-sequence accounting of packed offsets: docs starting in the
    * sequence, their token mass and how many span into the next one;
    * `extra` aggregates ride the same group-by. */
  private[graft] def seqAccounting(off: DataFrame, extra: Column*): DataFrame = {
    val (first, last) = spanSeqs
    off.groupBy(col("bin"), col("seq_id")).agg(count(lit(1)).as("n_docs"),
      Seq(sum(col("n_tok")).as("n_tokens"),
        sum(when(first =!= last, 1L).otherwise(0L)).as("n_spanning")) ++ extra: _*)
  }

  /** The doc ids starting in a sequence, comma-joined in concatenation
    * (start_off) order — the manifest's and the shard line's `docs`. */
  private[graft] def docsList: Column = concat_ws(",",
    transform(array_sort(collect_list(struct(col("start_off"), col("doc_id")))),
      s => s.getField("doc_id").cast("string"))).as("docs")

  /** Per-sequence content of packed offsets: token mass and [[docsList]];
    * `extra` aggregates ride the same group-by. */
  private[graft] def seqContent(off: DataFrame, extra: Column*): DataFrame =
    off.groupBy(col("bin"), col("seq_id"))
      .agg(sum(col("n_tok")).as("n_tokens"), docsList +: extra: _*)

  /** №67's shard key: hk = md5("bin:seq_id" + salt), dealt to one of
    * `nShards` shards by its first 8 hex digits. */
  private[graft] def shardKeyed(seqs: DataFrame, nShards: Int, salt: String = ""): DataFrame = {
    val key = Seq(col("bin").cast("string"), lit(":"), col("seq_id").cast("string")) ++
      (if (salt.isEmpty) Nil else Seq(lit(salt)))
    seqs.withColumn("hk", md5(concat(key: _*)))
      .withColumn("shard",
        pmod(conv(substring(col("hk"), 1, 8), 16, 10).cast("long"), lit(nShards)).cast("int"))
  }

  /** A keyed sequence's position in its shard (from 1): ordered by
    * `first`, then (hk, bin, seq_id). */
  private[graft] def shardPos(first: Column*): Column =
    row_number().over(Window.partitionBy(col("shard"))
      .orderBy(first ++ Seq(col("hk"), col("bin"), col("seq_id")): _*)).cast("long")

  /** DuckDB's form of the shard hash's first 8 hex digits of `hk` as a
    * BIGINT, parsed with the same per-nibble shift trick the simhash
    * oracle uses. */
  private[graft] val hex8: String = "CAST(list_sum(list_transform(range(1, 9), i -> " +
    "CAST(strpos('0123456789abcdef', substr(hk, CAST(i AS INT), 1)) - 1 AS BIGINT) << (4 * (8 - CAST(i AS INT))))) AS BIGINT)"

  // ---------------------------------------------------------------- №67 sequence_shuffle
  /** Data-parallel shards for the shuffled training order. */
  val NShards = 4

  /** Training-order shuffle — the step between packing and the loader: the
    * packed sequences are dealt to [[NShards]] data-parallel shards by a
    * deterministic hash (md5 of the sequence identity) and ordered WITHIN
    * each shard by the same hash, decorrelating consumption order from
    * packing order while staying run-reproducible.
    *
    * Scale shape — deliberately NOT a global permutation rank: each loader
    * reads one shard, so only within-shard positions are needed. That
    * makes the plan ONE hash shuffle on shard + a per-shard window
    * (parallel across the cluster); a global row_number would funnel every
    * sequence through a single ordered partition. Shard count is a
    * constant (cluster data-parallelism), so per-shard windows scale. */
  def sequenceShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    shardKeyed(packedSeqs(spark, dir), NShards)
      .withColumn("pos", shardPos())
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens")
      .orderBy($"shard", $"pos")
  }

  /** Oracle for [[graft.sources.TrainShardSink.shardQuery]] (№68): the
    * rows a lossless shard write + read-back must reproduce — packing
    * CTEs + the manifest's ordered doc list + the shuffle's shard hash,
    * all reconstructed relationally. */
  val trainShardSinkSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |s AS (
       |  SELECT bin, start_off // $SeqLen AS seq_id,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
       |  FROM o GROUP BY bin, start_off // $SeqLen),
       |h AS (
       |  SELECT bin, seq_id, n_tokens, docs,
       |    md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM s)
       |SELECT CAST($hex8 % $NShards AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY $hex8 % $NShards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |  bin, seq_id, n_tokens, docs
       |FROM h ORDER BY shard, pos""".stripMargin

  /** The packing CTEs and the [[hex8]] shard hash. */
  val sequenceShuffleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |s AS (
       |  SELECT bin, start_off // $SeqLen AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM o GROUP BY bin, start_off // $SeqLen),
       |h AS (
       |  SELECT bin, seq_id, n_tokens,
       |    md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk
       |  FROM s)
       |SELECT CAST($hex8 % $NShards AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY $hex8 % $NShards ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |  bin, seq_id, n_tokens
       |FROM h ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------- №58 pretrain_pipeline
  /** The pretraining data pipeline composed END-TO-END — the LLM-side
    * flagship, the analogue of `export_records` on the export side:
    * near-dup removal (PPJoin pair-finding → min-label-propagation
    * clusters → keep canonical members, exactly `dedup_pipeline`'s stage)
    * → model-based quality filter (the SHARED [[logitOf]] boundary — the
    * pipeline can never disagree with the standalone `quality_classifier`)
    * → GPT-style sequence packing of the survivors ([[packOffsets]] and
    * [[seqAccounting]], as in [[sequencePack]]). Output: per-(bin, sequence)
    * accounting of the final training batches.
    *
    * Scale shape is the sum of its parts, each already plan-pinned:
    * pair-finding shuffles on grams, label frames are dup-proportional
    * (AQE-decided joins only), the quality gate is a zero-shuffle
    * projection, packing is one bin shuffle + per-bin window. The oracle
    * recomposes ALL stages independently: recursive-CTE clusters + the
    * shared feature/logit SQL fragments + the window packing SQL.
    */
  def pretrainPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = TextQueries.clusterLabels(spark, dir)
    val kept = TextQueries.dupCorpus(spark, dir)
      .join(labels, Seq("doc_id"), "left")
      .filter(coalesce($"label", $"doc_id") === $"doc_id")
      .select($"doc_id", $"text")
    val scored = kept
      .withColumn("ws", words($"text"))
      .withColumn("n_tok", size($"ws"))
    val Seq(fStop, fUniq, fPunct, fLen) = featuresOf($"text", $"ws", $"n_tok")
    val survivors = scored
      .withColumn("logit", logitOf(fStop, fUniq, fPunct, fLen))
      .filter($"logit" >= 0.0)
      .select($"doc_id", $"n_tok".cast("long").as("n_tok"))
    seqAccounting(packOffsets(survivors)).orderBy($"bin", $"seq_id")
  }

  val pretrainPipelineSql: String = {
    val Seq(fs, fu, fp, fl) = featureSqlOf("text", "ws")
    s"""WITH RECURSIVE ${TextQueries.clusterCteSql},
       |lab AS (SELECT doc_id, min(r) AS lbl FROM reach GROUP BY doc_id),
       |kept AS (
       |  SELECT c.doc_id, c.text FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id
       |  WHERE coalesce(l.lbl, c.doc_id) = c.doc_id),
       |feat AS (SELECT doc_id, text, ${wordsSql("text")} AS ws FROM kept),
       |surv AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin, CAST(len(ws) AS BIGINT) AS n_tok
       |  FROM feat
       |  WHERE ${logitSqlOf(fs, fu, fp, fl)} >= 0.0),
       |poff AS (
       |  SELECT bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM surv),
       |pseq AS (
       |  SELECT bin, n_tok, start_off // $SeqLen AS seq_id,
       |    start_off // $SeqLen <> (start_off + n_tok - 1) // $SeqLen AS spans
       |  FROM poff)
       |SELECT bin, seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE spans) AS BIGINT) AS n_spanning
       |FROM pseq GROUP BY bin, seq_id ORDER BY bin, seq_id""".stripMargin
  }

  // ---------------------------------------------------------------- №63 sequence_manifest
  /** The packing MANIFEST — what a training loader actually consumes: per
    * (bin, sequence), the ordered list of documents that START in that
    * sequence (consumption order = concatenation order). Its offsets are
    * [[packOffsets]], as [[sequencePack]]'s are, so the manifest can
    * never disagree with the accounting; the ordered string_agg / sorted-struct-transform pair is the same
    * cross-engine trick line_dedup's reassembly uses. */
  def sequenceManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packOffsets(docTokens(spark, dir))
      .groupBy($"bin", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), docsList)
      .orderBy($"bin", $"seq_id")
  }

  val sequenceManifestSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d)
       |SELECT bin, start_off // $SeqLen AS seq_id, count(*) AS n_docs,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY start_off, doc_id) AS docs
       |FROM o GROUP BY bin, start_off // $SeqLen ORDER BY bin, seq_id""".stripMargin

  val sequencePackSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |s AS (
       |  SELECT bin, n_tok, start_off // $SeqLen AS seq_id,
       |    start_off // $SeqLen <> (start_off + n_tok - 1) // $SeqLen AS spans
       |  FROM o)
       |SELECT bin, seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE spans) AS BIGINT) AS n_spanning
       |FROM s GROUP BY bin, seq_id ORDER BY bin, seq_id""".stripMargin

  // ---------------------------------------------------------------- №110 tokenize_pack
  /** The tokenizer→loader capstone: №107 bpe_train's learned merges →
    * №108's zero-shuffle encode projection → №55 sequence packing on the
    * REAL subword counts — i.e. what the training loader actually packs
    * by, not whitespace proxies. One composed pipeline sharing the exact
    * fragments of its parts (bpeDocCounts, [[packOffsets]]),
    * so the composition can never drift from the standalone operators.
    *
    * Scale shape: the merge model is literal-sized; encode is a pure
    * projection; the per-doc count agg map-side combines on doc_id; the
    * pack runs per-bin windows only (bins are a constant — no global
    * sort). Three shuffles total at any corpus size: vocab agg (train),
    * doc_id agg (encode), bin repartition (pack). */
  def tokenizePack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    seqAccounting(packOffsets(TextQueries.bpeDocCounts(spark, dir)
      .select($"doc_id", $"bpe_tokens".as("n_tok"))))
      .orderBy($"bin", $"seq_id")
  }

  val tokenizePackSql: String =
    s"""WITH ${TextQueries.bpeCteSql},
       |wtok AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(${wordsSql("text")}) AS tok FROM documents)
       |  WHERE tok <> ''),
       |enc AS (
       |  SELECT doc_id, CAST(sum(len(string_split(${TextQueries.bpeEncodeStateSql}, ' '))) AS BIGINT) AS n_tok
       |  FROM wtok GROUP BY doc_id),
       |d AS (SELECT doc_id, doc_id % $PackBins AS bin, n_tok FROM enc),
       |o AS (
       |  SELECT bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |s AS (
       |  SELECT bin, n_tok, start_off // $SeqLen AS seq_id,
       |    start_off // $SeqLen <> (start_off + n_tok - 1) // $SeqLen AS spans
       |  FROM o)
       |SELECT bin, seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE spans) AS BIGINT) AS n_spanning
       |FROM s GROUP BY bin, seq_id ORDER BY bin, seq_id""".stripMargin

  // ---------------------------------------------------------------- №78 lm_score
  /** Unigram-LM quality gate (the CCNet idea: score text by how surprising
    * its tokens are under a corpus LM; gibberish and rare-token soup score
    * high and drop) — in the INTEGER-EXACT form the §5 determinism rules
    * demand: real log-probabilities would drag in libm log() whose
    * last-ulp behavior differs across engines (the same reason
    * quality_classifier stays in logit space), so token surprisal is the
    * BIT-LENGTH of the inverse frequency, `length(bin(N DIV c(w)))` —
    * ⌊log2⌋+1 computed exactly via the binary string in BOTH engines.
    * Doc score = mean surprisal bits; keep = score ≤ τ with both engines
    * comparing the SAME 6dp-rounded value (threshold ties cannot drift).
    *
    * Scale shape: ONE tokenization pass persisted (fed to the vocab count
    * AND the score join); the vocab frame is corpus-vocabulary-sized so
    * it joins the token stream by equi-key (AQE-planned, never broadcast
    * — the r4 broadcast discipline); the single-row total N is the only
    * broadcast. Two data shuffles at any scale (vocab count, per-doc
    * rollup) — the token⋈vocab join reuses the count's partitioning on
    * tok. Docs with NO alphanumeric tokens carry no signal and drop
    * (keep=false, score 0), mirrored identically in the oracle. */
  // τ sits at the sf0.01 corpus's median mean-bits: the gate FILTERS
  // (sf0.01: 254 keep / 246 drop; sf0.1: 4750/250 — the bigger corpus
  // deepens the vocab so most docs score under the same τ), it does not
  // rubber-stamp
  val LmTau = 5.03

  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreFrom(Tables(spark, dir).documents)

  /** Body over any (doc_id, text) frame (spec hook for edge corpora). */
  private[queries] def lmScoreFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = graft.CacheRegistry.track(docs
      .select($"doc_id", explode(TextQueries.words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .persist())
    val counts = tok.groupBy($"tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum($"c").as("n")) // single row — the only broadcast
    val perDoc = tok
      .join(counts, "tok")
      .crossJoin(broadcast(total))
      .select($"doc_id", length(expr("bin(n DIV c)")).as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), sum($"bits").as("sum_bits"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tok", lit(0L)).as("n_tok"),
        round(coalesce($"sum_bits", lit(0L)).cast("double") / greatest($"n_tok", lit(1L)) + 1e-9, 6).as("mean_bits"))
      .withColumn("keep", $"n_tok" > 0 && $"mean_bits" <= LmTau)
      .orderBy($"doc_id")
  }

  /** lm CTE chain over `documents` — final relation `lms(doc_id, n_tok,
    * sum_bits)`; `lm`-prefixed names so composers (filter_agreement)
    * cannot collide. Shared by [[lmScoreSql]] and
    * [[filterAgreementSql]] so the gate cannot drift. */
  private[queries] val lmCtesSql: String =
    s"""lmt AS (
       |  SELECT doc_id, unnest(${TextQueries.wordsSql("text")}) AS tok FROM documents),
       |lmtk AS (SELECT doc_id, tok FROM lmt WHERE tok <> ''),
       |lmc AS (SELECT tok, count(*) AS c FROM lmtk GROUP BY tok),
       |lmn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lmc),
       |lms AS (
       |  SELECT doc_id, count(*) AS n_tok,
       |    CAST(sum(length(bin(lmn.n // lmc.c))) AS BIGINT) AS sum_bits
       |  FROM lmtk JOIN lmc USING (tok), lmn GROUP BY doc_id)""".stripMargin

  /** The gate verdict over a (possibly-missing) `lms` row aliased `s`. */
  private[queries] def lmKeepSql(s: String): String =
    s"""coalesce($s.n_tok, 0) > 0 AND
       |    round(CAST(coalesce($s.sum_bits, 0) AS DOUBLE) / greatest(coalesce($s.n_tok, 0), 1) + 0.000000001, 6) <= $LmTau""".stripMargin

  // ---------------------------------------------------------------- №157 rank_correlation
  /** RANK correlation between two quality signals — the filter-redundancy
    * measurement (№90 filter_agreement grades binary VERDICT agreement;
    * this grades the underlying CONTINUOUS signals): Spearman's ρ between
    * №29's composite quality and №88's LM surprisal over a deterministic
    * md5-ordered sample of [[RankSampleK]] docs. Both ranks are
    * "best-first" (quality DESC, surprisal ASC, doc_id tiebreak), so a
    * POSITIVE ρ means the signals agree on what good looks like. Exact
    * arithmetic end to end: ranks are integers, Σd² an exact BIGINT, and
    * ρ = 1 − 6Σd²/(n(n²−1)) is one 6dp division on exact inputs — both
    * engines bit-agree.
    *
    * Scale shape: the signals are the operators' own corpus passes
    * (linear, shared fragments); the SAMPLE bounds everything downstream
    * — the md5 order is a TakeOrdered (per-partition heaps), the rank
    * windows sort [[RankSampleK]] rows, output is one row. A full-corpus
    * Spearman would need two global sorts; the sample is the honest
    * at-scale answer (ρ's sampling error at n=400 is ~0.05). */
  val RankSampleK = 400

  /** Overflow bound (r11 audit): Σd² over the FIXED 400-doc sample is
    * ≤ n³/3 ≈ 2.1·10⁷, and 6·Σd² another ×6 — BIGINT headroom to a
    * sample of ~2·10⁶ docs (n³ < 2⁶³); the sample size is the dial,
    * not the corpus, so the bound cannot erode with scale. */
  def rankCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = TextQueries.qualityScore(spark, dir).select($"doc_id", $"quality")
    val l = lmScore(spark, dir).select($"doc_id", $"mean_bits")
    val sample = q.join(l, "doc_id")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id").limit(RankSampleK)
    val ra = Window.orderBy($"quality".desc, $"doc_id")
    val rb = Window.orderBy($"mean_bits".asc, $"doc_id")
    sample
      .withColumn("rank_q", row_number().over(ra).cast("long"))
      .withColumn("rank_lm", row_number().over(rb).cast("long"))
      .select((($"rank_q" - $"rank_lm") * ($"rank_q" - $"rank_lm")).as("d2"))
      .agg(count(lit(1)).as("n"), sum($"d2").as("sum_d2"))
      .select($"n", $"sum_d2",
        round(lit(1.0) - lit(6.0) * $"sum_d2" / ($"n" * ($"n" * $"n" - 1)) + lit(1e-9), 6).as("rho"))
  }

  // lazy: lmScoreSql is declared below (object init order)
  lazy val rankCorrelationSql: String =
    s"""WITH rc_q AS (SELECT doc_id, quality FROM (${TextQueries.qualityScoreSql.replace("\n", "\n  ")})),
       |rc_l AS (SELECT doc_id, mean_bits FROM (${lmScoreSql.replace("\n", "\n  ")})),
       |rc_s AS (
       |  SELECT q.doc_id, q.quality, l.mean_bits
       |  FROM rc_q q JOIN rc_l l USING (doc_id)
       |  ORDER BY md5(CAST(q.doc_id AS VARCHAR)), q.doc_id LIMIT $RankSampleK),
       |rc_r AS (
       |  SELECT
       |    CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS rank_q,
       |    CAST(row_number() OVER (ORDER BY mean_bits ASC, doc_id) AS BIGINT) AS rank_lm
       |  FROM rc_s)
       |SELECT count(*) AS n,
       |  CAST(sum((rank_q - rank_lm) * (rank_q - rank_lm)) AS BIGINT) AS sum_d2,
       |  round(1.0 - 6.0 * CAST(sum((rank_q - rank_lm) * (rank_q - rank_lm)) AS BIGINT)
       |        / (count(*) * (count(*) * count(*) - 1)) + 0.000000001, 6) AS rho
       |FROM rc_r""".stripMargin

  val lmScoreSql: String =
    s"""WITH $lmCtesSql
       |SELECT d.doc_id,
       |  coalesce(s.n_tok, 0) AS n_tok,
       |  round(CAST(coalesce(s.sum_bits, 0) AS DOUBLE) / greatest(coalesce(s.n_tok, 0), 1) + 0.000000001, 6) AS mean_bits,
       |  ${lmKeepSql("s")} AS keep
       |FROM documents d LEFT JOIN lms s ON s.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- №80 corpus_split
  /** Leakage-safe train/valid/test split — the assignment step an
    * evaluation-honest pipeline runs AFTER near-dup clustering: the split
    * is keyed on the duplicate CLUSTER label (dedup_cluster's connected
    * components; singletons key on themselves), so every member of a
    * near-dup family lands in the SAME split and no verified near-dup
    * pair can cross a split boundary — eval contamination by
    * near-duplicate is structurally impossible, not just unlikely. Both
    * leakage numbers ship in the output, measured: `leak_cluster_split`
    * (0 by construction — and the oracle recomputes it independently)
    * vs `leak_doc_split`, the SAME corpus naively split by doc hash,
    * which leaks dozens of pairs — the measured motivation for
    * cluster-keyed splitting. Assignment is the stratified_sample hex
    * trick (first 4 md5 chars vs thresholds ≈ 90/5/5): deterministic,
    * reproducible, engine-identical.
    *
    * Scale shape: ONE tokenization + ONE pair-finding pass shared
    * between the label loop and the leakage audit (both persisted); the
    * split assignment is a narrow projection; stats are a 3-key agg and
    * the leak counts a single-row broadcast. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = graft.CacheRegistry.track(TextQueries.dupCorpusTok(spark, dir).persist())
    val edges = graft.CacheRegistry.track(
      TextQueries.dedupNgramJaccardFrom(tok).select($"doc_a", $"doc_b").persist())
    val labels = TextQueries.clusterLabelsFrom(spark, edges)
    def splitOf(c: Column): Column = {
      val b = substring(md5(c.cast("string")), 1, 4)
      when(b < "e666", "train").when(b < "f333", "valid").otherwise("test")
    }
    val assigned = graft.CacheRegistry.track(tok.select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"label", $"doc_id").as("cluster"))
      .withColumn("split", splitOf($"cluster"))
      .withColumn("doc_split", splitOf($"doc_id"))
      .persist())
    val leaks = edges
      .join(assigned.select($"doc_id".as("doc_a"), $"split".as("split_a"), $"doc_split".as("dsplit_a")), "doc_a")
      .join(assigned.select($"doc_id".as("doc_b"), $"split".as("split_b"), $"doc_split".as("dsplit_b")), "doc_b")
      .agg(count(when($"split_a" =!= $"split_b", 1)).as("leak_cluster_split"),
        count(when($"dsplit_a" =!= $"dsplit_b", 1)).as("leak_doc_split"))
    assigned.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"cluster").as("n_clusters"))
      .crossJoin(broadcast(leaks))
      .select($"split", $"n_docs", $"n_clusters", $"leak_cluster_split", $"leak_doc_split")
      .orderBy($"split")
  }

  private def splitCaseSql(key: String): String =
    s"""CASE WHEN substr(md5(CAST($key AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
       |     WHEN substr(md5(CAST($key AS VARCHAR)), 1, 4) < 'f333' THEN 'valid'
       |     ELSE 'test' END""".stripMargin

  val corpusSplitSql: String =
    s"""WITH RECURSIVE ${TextQueries.clusterCteSql},
       |lab AS (SELECT doc_id, min(r) AS lbl FROM reach GROUP BY doc_id),
       |asg AS (
       |  SELECT c.doc_id, coalesce(l.lbl, c.doc_id) AS cluster,
       |    ${splitCaseSql("coalesce(l.lbl, c.doc_id)")} AS split,
       |    ${splitCaseSql("c.doc_id")} AS doc_split
       |  FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id),
       |lk AS (
       |  SELECT
       |    count(*) FILTER (WHERE a1.split <> a2.split) AS leak_cluster_split,
       |    count(*) FILTER (WHERE a1.doc_split <> a2.doc_split) AS leak_doc_split
       |  FROM e JOIN asg a1 ON a1.doc_id = e.doc_a JOIN asg a2 ON a2.doc_id = e.doc_b)
       |SELECT asg.split, count(*) AS n_docs, count(DISTINCT asg.cluster) AS n_clusters,
       |  lk.leak_cluster_split, lk.leak_doc_split
       |FROM asg, lk
       |GROUP BY asg.split, lk.leak_cluster_split, lk.leak_doc_split
       |ORDER BY asg.split""".stripMargin

  // ---------------------------------------------------------------- №81 filter_agreement
  /** Quality-gate ABLATION diagnostic — the agreement matrix between the
    * three independent quality filters (№52 quality_classifier, №59
    * gopher_filter, №78 lm_score) over the same corpus: one row per
    * verdict combination with its doc count. This is the table a pipeline
    * owner reads before composing gates: how much do they overlap, which
    * docs does exactly one gate drop, is a gate redundant. Every verdict
    * comes from the operator's OWN shared fragment (logitOf/featuresOf,
    * gopherVerdictFrom/gopherCtesSql, lmScoreFrom/lmCtesSql), so the
    * diagnostic cannot drift from the gates it diagnoses — the
    * crawl_pipeline discipline. Docs too short for the gopher gram stats
    * LEFT-join to keep=false in both engines (its standalone convention).
    *
    * Scale shape: clf is a zero-shuffle projection; gopher two bounded
    * hash aggs; lm two shuffles over the shared tokenization; the final
    * agreement agg groups on three booleans (8 rows max). */
  def filterAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val base = docs.withColumn("ws", words($"text")).withColumn("n_tok", size($"ws"))
    val Seq(fStop, fUniq, fPunct, fLen) = featuresOf($"text", $"ws", $"n_tok")
    val clf = base.select($"doc_id", (logitOf(fStop, fUniq, fPunct, fLen) >= 0.0).as("keep_clf"))
    val gopher = CurationQueries.gopherVerdictFrom(docs.select($"doc_id", $"text"))
      .select($"doc_id", $"keep".as("keep_gopher"))
    val lm = lmScoreFrom(docs).select($"doc_id", $"keep".as("keep_lm"))
    clf
      .join(gopher, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"))
      .select($"keep_clf", coalesce($"keep_gopher", lit(false)).as("keep_gopher"), $"keep_lm")
      .groupBy($"keep_clf", $"keep_gopher", $"keep_lm")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"keep_clf", $"keep_gopher", $"keep_lm")
  }

  val filterAgreementSql: String = {
    val Seq(fs, fu, fp, fl) = featureSqlOf("text", "ws")
    s"""WITH $lmCtesSql,
       |${CurationQueries.gopherCtesSql("documents", "text", "g")},
       |gv AS (SELECT gf.doc_id, ${CurationQueries.gopherVerdictCols("g")}
       |  FROM gf),
       |cw AS (SELECT doc_id, text, ${TextQueries.wordsSql("text")} AS ws FROM documents),
       |cf AS (SELECT doc_id,
       |  ${logitSqlOf(fs, fu, fp, fl)} AS logit
       |  FROM cw),
       |a AS (
       |  SELECT d.doc_id,
       |    cf.logit >= 0.0 AS keep_clf,
       |    coalesce(gv.keep, false) AS keep_gopher,
       |    ${lmKeepSql("lms")} AS keep_lm
       |  FROM documents d
       |  JOIN cf ON cf.doc_id = d.doc_id
       |  LEFT JOIN gv ON gv.doc_id = d.doc_id
       |  LEFT JOIN lms ON lms.doc_id = d.doc_id)
       |SELECT keep_clf, keep_gopher, keep_lm, count(*) AS n_docs
       |FROM a GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ---------------------------------------------------------------- №82 doc_embed
  /** Feature-hashed document embeddings (the hashing trick — Weinberger
    * et al. 2009, the embedding a pipeline computes when no model is in
    * the loop yet) in EXACT integer arithmetic: token t contributes a
    * 16-dim vector whose j-th component is `2·nibble_j(md5(t)) − 15`
    * (odd integers in [−15, 15], zero-mean over the nibble alphabet);
    * the document embedding is the sum over token OCCURRENCES — exact,
    * associative, order-independent, so partial aggregation commutes and
    * the DuckDB oracle reproduces every component bit-for-bit. Output:
    * the embedding as a canonical comma-joined string (dimension order),
    * its exact squared L2 norm, and the token count; alnum-free docs
    * carry the empty embedding. This is the bridge from the text side to
    * the vector operators: a corpus with no model embeddings can still
    * run №25-27/№56 over these.
    *
    * Scale shape: tokenize → 16-way dim explode (narrow) → ONE
    * (doc, dim) hash agg with map-side partials → per-doc rollup
    * reusing the doc prefix — two bounded shuffles at any scale, no
    * broadcast, no window. */
  val EmbDims = 16

  /** LONG form of the embedding: one row per (doc_id, dim) with the exact
    * integer component `e` and the occurrence count `cnt` (= n_tok, same
    * for every dim). Shared by [[docEmbedVectors]] and
    * [[VectorQueries.textCluster]] so clustering runs over the identical
    * vectors doc_embed publishes. Covers only docs with ≥1 token. */
  private[queries] def docEmbedDims(spark: SparkSession, dir: String): DataFrame =
    docEmbedDimsFrom(Tables(spark, dir).documents.select(col("doc_id"), col("text")))

  /** [[docEmbedDims]] over an arbitrary (doc_id, text) frame — №195's
    * cross-family night embeds the DUP corpus with the same vectors
    * doc_embed publishes for the plain one. */
  private[graft] def docEmbedDimsFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // tf-first: collapse occurrences to (doc, tok, tf) before anything
    // touches md5, then hash each DISTINCT token exactly once into its
    // 16 dim values (the token-dim map is vocab-sized — the explode and
    // md5 cost scale with the vocabulary, not the corpus) and join it
    // back equi-keyed (AQE-decided side; the vocab grows with the corpus,
    // so it is never force-broadcast). Σ tf·v per (doc, dim) is the same
    // exact integer as the per-occurrence sum — addition commutes.
    val tf = docs
      .select($"doc_id", explode(words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val tokDims = tf.select($"tok").distinct()
      .withColumn("h", md5($"tok"))
      .select($"tok",
        posexplode(expr(s"transform(sequence(0, ${EmbDims - 1}), j -> " +
          "2*(instr('0123456789abcdef', substring(h, j+1, 1))-1)-15)")).as(Seq("dim", "v")))
    tf.join(tokDims, "tok")
      .groupBy($"doc_id", $"dim")
      .agg(sum($"tf" * $"v").as("e"), sum($"tf").as("cnt"))
  }

  /** The same long form as DuckDB CTEs ending in `e(doc_id, j, e)` —
    * shared verbatim by the embed_knn and text_cluster oracles. */
  private[queries] val embDimsCtesSql: String = embDimsCtesSqlFrom("documents")

  /** [[embDimsCtesSql]] over an arbitrary source relation (must expose
    * doc_id, text) — №195 points it at the dup corpus. */
  private[graft] def embDimsCtesSqlFrom(src: String): String =
    s"""t AS (
       |  SELECT doc_id, unnest(${TextQueries.wordsSql("text")}) AS tok FROM $src),
       |tk AS (SELECT doc_id, tok, md5(tok) AS h FROM t WHERE tok <> ''),
       |x AS (
       |  SELECT doc_id, dims.j,
       |    2*(strpos('0123456789abcdef', substr(h, CAST(dims.j + 1 AS INT), 1))-1)-15 AS v
       |  FROM tk, (SELECT unnest(range(0, $EmbDims)) AS j) dims),
       |e AS (SELECT doc_id, j, CAST(sum(v) AS BIGINT) AS e FROM x GROUP BY 1, 2)""".stripMargin

  /** Vector form behind [[docEmbed]] (and [[VectorQueries.embedKnn]]'s
    * input): (doc_id, n_tok, emb_arr array<long> in dimension order,
    * norm_sq). Covers only docs with ≥1 token. */
  private[queries] def docEmbedVectors(spark: SparkSession, dir: String): DataFrame =
    docEmbedVectorsFrom(Tables(spark, dir).documents.select(col("doc_id"), col("text")))

  /** [[docEmbedVectors]] over an arbitrary (doc_id, text) frame. */
  private[graft] def docEmbedVectorsFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docEmbedDimsFrom(docs)
      .groupBy($"doc_id")
      .agg(max($"cnt").as("n_tok"), // every occurrence feeds every dim
        transform(array_sort(collect_list(struct($"dim", $"e"))),
          s => s.getField("e")).as("emb_arr"),
        sum($"e" * $"e").as("norm_sq"))
  }

  /** The dup corpus's hashed embeddings (doc_id, emb_arr, norm_sq), tagged
    * with their doc class `cls` ([[HashDedup.clsOf]]) and tracked for the
    * query: the vector leg of the corpus drills. */
  private[graft] def corpusVectors(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.track(docEmbedVectorsFrom(TextQueries.dupCorpus(spark, dir))
      .select(col("doc_id"), col("emb_arr"), col("norm_sq"))
      .withColumn("cls", HashDedup.clsOf(col("doc_id"))).persist())

  /** The held-out query vectors (q_id, q_emb, q_norm) of [[corpusVectors]]
    * `ve`: every [[VectorQueries.EmbedQEvery]]-th doc outside the batch
    * classes, tracked for the query. */
  private[graft] def corpusQueries(ve: DataFrame, batchCls: Long*): DataFrame =
    graft.CacheRegistry.track(ve
      .filter(col("doc_id") % VectorQueries.EmbedQEvery === 0 && !col("cls").isin(batchCls.map(Long.box): _*))
      .select(col("doc_id").as("q_id"), col("emb_arr").as("q_emb"), col("norm_sq").as("q_norm"))
      .persist())

  /** A corpus drill's vector store (doc_id, emb_arr, norm_sq) read back
    * from its files with the rows' known schema, as
    * [[HashDedup.readIndex]] reads the band index: an inferred schema
    * costs a footer-reading job per read. */
  private[graft] def readVectors(spark: SparkSession, store: java.nio.file.Path): DataFrame =
    spark.read.schema("doc_id LONG, emb_arr ARRAY<BIGINT>, norm_sq BIGINT").parquet(store.toString)
      .select(col("doc_id"), col("emb_arr"), col("norm_sq"))

  /** Exact-integer cosine, rounded to 6 dp, of every stored vector
    * (doc_id, emb_arr, norm_sq) against every query (q_id, q_emb, q_norm;
    * broadcast): the corpus drills' serve scoring. */
  private[graft] def exactCos(store: DataFrame, queries: DataFrame): DataFrame =
    store.join(broadcast(queries))
      .select(col("q_id"), col("doc_id"),
        round(
          aggregate(zip_with(col("emb_arr"), col("q_emb"), (x, y) => x * y), lit(0L), (acc, p) => acc + p)
            .cast("double") /
            (sqrt(col("norm_sq").cast("double")) * sqrt(col("q_norm").cast("double"))), 6).as("cos"))

  def docEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents.select($"doc_id")
      .join(docEmbedVectors(spark, dir), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tok", lit(0L)).as("n_tok"),
        coalesce(concat_ws(",", transform($"emb_arr", _.cast("string"))), lit("")).as("emb"),
        coalesce($"norm_sq", lit(0L)).as("norm_sq"))
      .orderBy($"doc_id")
  }

  val docEmbedSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(${TextQueries.wordsSql("text")}) AS tok FROM documents),
       |tk AS (SELECT doc_id, tok, md5(tok) AS h FROM t WHERE tok <> ''),
       |x AS (
       |  SELECT doc_id, dims.j,
       |    2*(strpos('0123456789abcdef', substr(h, CAST(dims.j + 1 AS INT), 1))-1)-15 AS v
       |  FROM tk, (SELECT unnest(range(0, $EmbDims)) AS j) dims),
       |e AS (
       |  SELECT doc_id, j, CAST(sum(v) AS BIGINT) AS e, count(*) AS cnt
       |  FROM x GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS n_tok,
       |    string_agg(CAST(e AS VARCHAR), ',' ORDER BY j) AS emb,
       |    CAST(sum(e*e) AS BIGINT) AS norm_sq
       |  FROM e GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_tok, 0) AS n_tok,
       |  coalesce(p.emb, '') AS emb,
       |  coalesce(p.norm_sq, 0) AS norm_sq
       |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- №94 corpus_overlap
  /** Pairwise inter-SOURCE content overlap — the corpus-level dedup
    * triage a pipeline runs before mixing sources (which crawls/dumps
    * duplicate each other, where does a new source sit vs the existing
    * mix): for every source pair, the Jaccard similarity of their
    * distinct 5-gram shingle sets, in EXACT integer ppm
    * (`n_common·10⁶ DIV (n_a + n_b − n_common)` — same floor-div
    * discipline as source_drift, bit-identical both engines). Every
    * pair appears, including zero-overlap ones (absent overlap IS the
    * signal that two sources are independent).
    *
    * Scale shape: corpus → DISTINCT (source, gram) in one shuffle
    * (gram-cardinality-bounded, the contamination_check shingle
    * convention); the pair counts come from a self-join on gram whose
    * per-gram fan-out is bounded by the SOURCE count, not the corpus
    * (≤ S² rows per gram, S = #sources — bounded metadata cardinality);
    * totals are an S-row agg; the final pair frame is S²/2 rows. No
    * window, nothing corpus-proportional broadcast. */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sg = graft.CacheRegistry.track(Tables(spark, dir).documents
      .select($"source", words($"text").as("ws"))
      .select($"source", explode(expr(
        "CASE WHEN size(ws) >= 5 THEN array_distinct(transform(sequence(0, size(ws)-5), " +
          "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) ELSE array() END")).as("gram"))
      .distinct()
      .persist())
    // totals from the SOURCE list, not the gram frame — a source whose
    // docs are all shorter than the shingle width still appears in every
    // pair (with n = 0); the greatest() guard keeps the empty-vs-empty
    // Jaccard at 0 instead of dividing by zero
    val t = Tables(spark, dir).documents.select($"source").distinct()
      .join(sg.groupBy($"source").agg(count(lit(1)).as("ng")), Seq("source"), "left")
      .select($"source", coalesce($"ng", lit(0L)).as("n"))
    val c = sg.as("a").join(sg.as("b"),
        $"a.gram" === $"b.gram" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("nc"))
    t.as("ta").join(t.as("tb"), $"ta.source" < $"tb.source")
      .select($"ta.source".as("src_a"), $"tb.source".as("src_b"),
        $"ta.n".as("n_a"), $"tb.n".as("n_b"))
      .join(c, Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_a", $"n_b",
        coalesce($"nc", lit(0L)).as("n_common"),
        expr("coalesce(nc, 0) * 1000000 DIV greatest(n_a + n_b - coalesce(nc, 0), 1)")
          .as("jaccard_ppm"))
      .orderBy($"src_a", $"src_b")
  }

  val corpusOverlapSql: String =
    s"""WITH d AS (
       |  SELECT source, ${TextQueries.wordsSql("text")} AS ws FROM documents),
       |sg AS (
       |  SELECT DISTINCT source, gram FROM (
       |    SELECT source, unnest(list_distinct(list_transform(range(1, len(ws)-3),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS gram
       |    FROM d WHERE len(ws) >= 5) x),
       |t AS (
       |  SELECT s.source, coalesce(g.ng, 0) AS n
       |  FROM (SELECT DISTINCT source FROM documents) s
       |  LEFT JOIN (SELECT source, count(*) AS ng FROM sg GROUP BY source) g USING (source)),
       |c AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
       |  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT ta.source AS src_a, tb.source AS src_b, ta.n AS n_a, tb.n AS n_b,
       |  coalesce(c.n_common, 0) AS n_common,
       |  coalesce(c.n_common, 0) * 1000000 // greatest(ta.n + tb.n - coalesce(c.n_common, 0), 1) AS jaccard_ppm
       |FROM t ta JOIN t tb ON ta.source < tb.source
       |LEFT JOIN c ON c.src_a = ta.source AND c.src_b = tb.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- №88 source_drift
  /** Per-source distribution-drift monitor — the data-quality check a
    * pipeline runs per ingest batch: each source's document-length
    * histogram (10 fixed bins, `least(9, n_chars DIV 60)`) compared to
    * the whole corpus's, as the L1 distance between the two
    * distributions in EXACT integer ppm (`Σ |c·10⁶ DIV n − g·10⁶ DIV N|`
    * — floor-divided per bin identically in both engines, so the
    * statistic is bit-exact where a chi-square's float division would
    * not be). A source whose content shifts (truncation bug, new
    * sub-corpus, encoding break) moves its histogram and the ppm jumps.
    *
    * Scale shape: ONE corpus pass → (source, bin) counts; everything
    * after is arithmetic over #sources×10 rows (global bins derived by
    * summing the per-source counts — no second scan); missing
    * (source, bin) cells materialize at c=0 via the tiny
    * sources×bins frame so absent mass is counted as drift. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sb = graft.CacheRegistry.track(Tables(spark, dir).documents
      .select($"source", expr("least(9, n_chars DIV 60)").as("bin"))
      .groupBy($"source", $"bin").agg(count(lit(1)).as("c"))
      .persist())
    val global = sb.groupBy($"bin").agg(sum($"c").as("g"))
    val totals = sb.groupBy($"source").agg(sum($"c").as("n"))
    val grand = sb.agg(sum($"c").as("nn")) // single row
    val cells = totals.crossJoin(global) // #sources × 10 — every cell exists
      .join(sb, Seq("source", "bin"), "left")
      .crossJoin(broadcast(grand))
      .select($"source", $"n",
        expr("abs(coalesce(c, 0) * 1000000 DIV n - g * 1000000 DIV nn)").as("term"))
    cells.groupBy($"source")
      .agg(max($"n").as("n_docs"), sum($"term").as("drift_ppm"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- №219 pack_increment
  /** Arrival-batch residue: docs with doc_id % 5 = 2 arrive AFTER the base
    * pack (hits every bin — the residue is coprime-spread across the
    * doc_id % [[PackBins]] bins). */
  val IncArrMod = 5L
  val IncArrRes = 2L

  /** A doc's batch in the two-phase corpus: 1 for the arrival residue, 0
    * for the base. */
  private[graft] def incBatch: Column =
    (pmod(col("doc_id"), lit(IncArrMod)) === IncArrRes).cast("int")

  /** INCREMENTAL SEQUENCE PACKING (№219) — the packing-side increment the
    * batch pack (№55) stops short of: when an arrival batch lands, a full
    * repack re-orders the union by md5(doc_id) and RE-CUTS nearly every
    * sequence (the hash order interleaves arrivals everywhere) — at 100 TB
    * that dirties every already-written training shard (№68/№218's files)
    * for a nightly trickle. The incremental discipline instead appends
    * arrivals at each bin's TAIL: per bin, arrivals take the №55 hash
    * order AMONG THEMSELVES with offsets continuing from the bin's base
    * token total, so every base sequence's accounting is IMMOBILE except
    * the one boundary sequence per bin the first arrival tokens top up
    * (≤ [[PackBins]] extended sequences, however big the corpus or the
    * batch — PackIncrementSpec pins ≤1 per bin and byte-equality of the
    * immobile rows against the pure-base pack).
    *
    * The alternative is BILLED, not taken: `n_repack_moved` counts the
    * (bin, seq_id) keys whose (n_docs, n_tokens) accounting differs
    * between the incremental result and the canonical full repack —
    * measured 98 vs 8 extended at sf0.01 and 1054 vs 8 at sf0.1, the
    * 12-130× write amplification the tail-append avoids. The cost of the
    * discipline is packing-order drift from the canonical hash order
    * (arrivals cluster at bin tails instead of interleaving) — visible in
    * the same dial, reversible by a scheduled full repack (№117's
    * compaction slot).
    *
    * Scale shape: [[packOffsets]]' one per-bin window ordered by (batch,
    * hash) gives the base offsets and the arrivals' tail-append offsets
    * at once, then one (bin, seq) hash agg; the repack dial is a second №55 pass + a key-wise
    * full-outer compare — no global sort anywhere.
    *
    * Output: per-sequence accounting (bin, seq_id, n_docs, n_tokens,
    * n_spanning, phase ∈ immobile|extended|new) + the bill
    * (n_immobile, n_extended, n_new, n_repack_moved) on every row. */
  def packIncrement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val inc = graft.CacheRegistry.track(
      seqAccounting(packOffsets(docTokens(spark, dir).withColumn("batch", incBatch)),
        (min($"batch") === 1).as("all_arr"), (max($"batch") === 1).as("any_arr"))
      .withColumn("phase", when($"all_arr", "new")
        .when($"any_arr", "extended").otherwise("immobile"))
      .select($"bin", $"seq_id", $"n_docs", $"n_tokens", $"n_spanning", $"phase")
      .persist())
    val repack = packedSeqs(spark, dir)
      .select($"bin", $"seq_id", $"n_docs".as("f_docs"), $"n_tokens".as("f_tokens"))
    val moved = inc.join(repack, Seq("bin", "seq_id"), "full_outer")
      .filter(!($"n_docs" <=> $"f_docs") || !($"n_tokens" <=> $"f_tokens"))
      .agg(count(lit(1)).as("n_repack_moved"))
    val bill = inc.agg(
        sum(when($"phase" === "immobile", 1L).otherwise(0L)).as("n_immobile"),
        sum(when($"phase" === "extended", 1L).otherwise(0L)).as("n_extended"),
        sum(when($"phase" === "new", 1L).otherwise(0L)).as("n_new"))
      .crossJoin(broadcast(moved))
    inc.crossJoin(broadcast(bill)).orderBy($"bin", $"seq_id")
  }

  val packIncrementSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok,
       |    doc_id % $IncArrMod = $IncArrRes AS arr
       |  FROM documents),
       |bo AS (
       |  SELECT bin, n_tok, arr,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d WHERE NOT arr),
       |bt AS (SELECT bin, CAST(sum(n_tok) AS BIGINT) AS base_tot FROM d WHERE NOT arr GROUP BY bin),
       |ao AS (
       |  SELECT d.bin, d.n_tok, d.arr,
       |    coalesce(bt.base_tot, 0) +
       |      CAST(sum(d.n_tok) OVER (PARTITION BY d.bin ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
       |                              ROWS UNBOUNDED PRECEDING) - d.n_tok AS BIGINT) AS start_off
       |  FROM d LEFT JOIN bt USING (bin) WHERE d.arr),
       |u AS (SELECT * FROM bo UNION ALL SELECT * FROM ao),
       |inc AS (
       |  SELECT bin, start_off // $SeqLen AS seq_id, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(count(*) FILTER (WHERE start_off // $SeqLen <> (start_off + n_tok - 1) // $SeqLen) AS BIGINT) AS n_spanning,
       |    CASE WHEN bool_and(arr) THEN 'new' WHEN bool_or(arr) THEN 'extended' ELSE 'immobile' END AS phase
       |  FROM u GROUP BY bin, start_off // $SeqLen),
       |fo AS (
       |  SELECT bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |fseq AS (
       |  SELECT bin, start_off // $SeqLen AS seq_id, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM fo GROUP BY bin, start_off // $SeqLen),
       |bill AS (
       |  SELECT
       |    CAST((SELECT count(*) FROM inc WHERE phase = 'immobile') AS BIGINT) AS n_immobile,
       |    CAST((SELECT count(*) FROM inc WHERE phase = 'extended') AS BIGINT) AS n_extended,
       |    CAST((SELECT count(*) FROM inc WHERE phase = 'new') AS BIGINT) AS n_new,
       |    CAST((SELECT count(*) FROM inc FULL JOIN fseq USING (bin, seq_id)
       |          WHERE inc.n_docs IS DISTINCT FROM fseq.n_docs
       |             OR inc.n_tokens IS DISTINCT FROM fseq.n_tokens) AS BIGINT) AS n_repack_moved)
       |SELECT inc.bin, inc.seq_id, inc.n_docs, inc.n_tokens, inc.n_spanning, inc.phase,
       |  bill.n_immobile, bill.n_extended, bill.n_new, bill.n_repack_moved
       |FROM inc CROSS JOIN bill
       |ORDER BY bin, seq_id""".stripMargin

  // ---------------------------------------------------------------- №223 epoch_resume
  /** CRASH RESUME + NEXT-EPOCH RESHUFFLE (№223) — the loader-side
    * contract that makes №68's shard layout operable: a training run dies
    * mid-epoch leaving one checkpoint per data-parallel shard (the last
    * consumed pos — positions are consumption order by construction), and
    * resume must produce EXACTLY the unconsumed remainder: no repeats (a
    * repeated sequence double-trains), no skips (a skipped one never
    * trains). Because positions are per-shard monotone, resume is ONE
    * predicate per shard (pos > ckpt) — metadata-priced, no global state,
    * no re-read of consumed bytes. The checkpoint vector here is
    * deterministic mixed progress (shard s consumed ⌊max_pos·(s%4)/4⌋ —
    * shards at 0/25/50/75%), so the drill covers untouched, part-read and
    * nearly-done shards at once.
    *
    * The second leg is the NEXT epoch: re-consuming in the same order
    * correlates gradient noise across epochs, so epoch e+1 re-deals every
    * sequence by the EPOCH-SEEDED hash (md5(bin:seq:e)) — same multiset,
    * decorrelated order, still run-reproducible (№67's discipline with
    * the epoch in the key). Decorrelation is MEASURED, not asserted:
    * `n_moved_shards` counts sequences whose shard changed between epochs
    * (≈ (Shards−1)/Shards of the corpus — 109/113 at sf0.001).
    *
    * At 100 TB: the remainder filter is per-shard and pushes to the scan;
    * the reshuffle is one hash projection + per-shard windows (№67's
    * no-global-sort shape); the checkpoint vector is shard-count-sized.
    *
    * Output: (epoch, shard, pos, bin, seq_id, n_tokens) — epoch 0 = the
    * remainder at ORIGINAL positions, epoch 1 = the full multiset at the
    * re-dealt positions — plus (n_consumed, n_remaining, n_moved_shards). */
  val ResumeShards = 16

  def epochResume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val SH = ResumeShards
    val seqs = graft.CacheRegistry.track(packOffsets(docTokens(spark, dir))
      .groupBy($"bin", $"seq_id").agg(sum($"n_tok").as("n_tokens"))
      .persist())
    def dealt(epochSuffix: String): DataFrame = shardKeyed(seqs, SH, epochSuffix)
      .withColumn("pos", shardPos())
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens")
    val l0 = graft.CacheRegistry.track(dealt("").persist())
    val l1 = dealt(":e1")
    // one checkpoint per shard — the loader's whole recovery state
    val ck = l0.groupBy($"shard")
      .agg((max($"pos") * pmod($"shard", lit(4)).cast("long") / lit(4L))
        .cast("long").as("ckpt"))
    val rem = l0.join(broadcast(ck), Seq("shard")).filter($"pos" > $"ckpt")
      .select($"shard", $"pos", $"bin", $"seq_id", $"n_tokens")
    val bill = rem.agg(count(lit(1)).as("n_remaining"))
      .crossJoin(broadcast(l0.agg(count(lit(1)).as("n_lines"))))
      .crossJoin(broadcast(
        l0.as("a").join(l1.as("b"), Seq("bin", "seq_id"))
          .filter($"a.shard" =!= $"b.shard")
          .agg(count(lit(1)).as("n_moved_shards"))))
      .select(($"n_lines" - $"n_remaining").as("n_consumed"),
        $"n_remaining", $"n_moved_shards")
    rem.withColumn("epoch", lit(0L))
      .unionAll(l1.withColumn("epoch", lit(1L)))
      .crossJoin(broadcast(bill))
      .select($"epoch", $"shard", $"pos", $"bin", $"seq_id", $"n_tokens",
        $"n_consumed", $"n_remaining", $"n_moved_shards")
      .orderBy($"epoch", $"shard", $"pos")
  }

  val epochResumeSql: String = {
    val SH = ResumeShards
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % $PackBins AS bin,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, bin, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |  FROM d),
       |s AS (
       |  SELECT bin, start_off // $SeqLen AS seq_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM o GROUP BY 1, 2),
       |h0 AS (SELECT *, md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)) AS hk FROM s),
       |l0 AS (
       |  SELECT CAST($hex8 % $SH AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $SH ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens
       |  FROM h0),
       |h1 AS (SELECT bin, seq_id, n_tokens,
       |  md5(CAST(bin AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) || ':e1') AS hk FROM s),
       |l1 AS (
       |  SELECT CAST($hex8 % $SH AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY $hex8 % $SH ORDER BY hk, bin, seq_id) AS BIGINT) AS pos,
       |    bin, seq_id, n_tokens
       |  FROM h1),
       |ck AS (SELECT shard, max(pos) * (shard % 4) // 4 AS ckpt FROM l0 GROUP BY shard),
       |rem AS (SELECT l0.* FROM l0 JOIN ck USING (shard) WHERE pos > ckpt),
       |bill AS (
       |  SELECT
       |    CAST((SELECT count(*) FROM l0) - (SELECT count(*) FROM rem) AS BIGINT) AS n_consumed,
       |    CAST((SELECT count(*) FROM rem) AS BIGINT) AS n_remaining,
       |    CAST((SELECT count(*) FROM l0 JOIN l1 USING (bin, seq_id)
       |          WHERE l0.shard <> l1.shard) AS BIGINT) AS n_moved_shards)
       |SELECT x.epoch, x.shard, x.pos, x.bin, x.seq_id, x.n_tokens,
       |  bill.n_consumed, bill.n_remaining, bill.n_moved_shards
       |FROM (
       |  SELECT CAST(0 AS BIGINT) AS epoch, * FROM rem
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT) AS epoch, * FROM l1) x
       |CROSS JOIN bill
       |ORDER BY epoch, shard, pos""".stripMargin
  }

  val sourceDriftSql: String =
    """WITH sb AS (
      |  SELECT source, least(9, n_chars // 60) AS bin, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT bin, CAST(sum(c) AS BIGINT) AS g FROM sb GROUP BY bin),
      |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sb GROUP BY source),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM sb),
      |cells AS (
      |  SELECT t.source, t.n,
      |    abs(coalesce(sb.c, 0) * 1000000 // t.n - g.g * 1000000 // nn.nn) AS term
      |  FROM t CROSS JOIN g CROSS JOIN nn
      |  LEFT JOIN sb ON sb.source = t.source AND sb.bin = g.bin)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
      |  CAST(sum(term) AS BIGINT) AS drift_ppm
      |FROM cells GROUP BY source ORDER BY source""".stripMargin
}
