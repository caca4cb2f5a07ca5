package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ADVERSARIAL oracle corpus (r14 verdict item 7) — a documents +
  * embeddings table pair shaped like the gate SFs but built to hit the
  * corners the synthetic corpora are too polite for, so the FULL
  * Spark-vs-DuckDB oracle gate (not just a timing table) runs against it:
  *
  *  - HEAVY-TAIL tokens: body words drawn log-uniform over a [[Vocab]]
  *    vocabulary (P(rank k) ∝ 1/k) — shingle document frequencies span
  *    four orders of magnitude, exercising the DF-ranked probe budget's
  *    rare-first ordering and every band join's skew handling;
  *  - NEAR-DUP BURSTS: every [[BurstEvery]]-th base doc spawns
  *    [[BurstSize]] copies, each with ONE token substituted at a
  *    distinct position — τ=3/5-true pairs (the substitution moves ≤5 of
  *    ~100+ 5-gram shingles) that banding must FIND under the caps;
  *  - A BAND-KEYED COLLISION CLUSTER: [[TemplatePct]]% of docs are one
  *    fixed 60-token [[Template]] plus a short heavy-tail tail. The
  *    template dominates each such doc's 3-gram shingle set, so a band's
  *    minhash positions argmin inside the template with p ≈ 0.7 each —
  *    p^r of the template docs collapse into ONE (band, band_key)
  *    bucket: the over-cap, verification-rejected candidate pressure
  *    (RefinedWeb/CCNet's bucket-cap motivation) keyed to a band; two
  *    template docs share only the template's 5-grams and FAIL τ
  *    (J ≤ 0.58), so they are candidate noise, never recall.
  *
  * On the vector side: embeddings draw a cluster log-uniform over
  * [[Clusters]] centers (one center owns ~a third of the corpus) with a
  * per-vector deterministic offset — IVF cell occupancy is heavy-tail,
  * the shape that stresses probe routing and PQ codebooks.
  *
  * Everything is a pure function of (doc_id, position) through md5, so
  * the corpus is bit-reproducible; generation is Spark-only (parquet is
  * the source of truth — the DuckDB oracle reads the same files, so no
  * cross-engine arithmetic constraint applies here).
  *
  * Usage: `graft.AdversarialCorpus [nDocs]` writes the pair under
  * /tmp/graft_adv_corpus_* and prints the dir; drive the oracle gate with
  * `graft.Verify <dir> <out> <banded+ivf names>` + tools/check.py. The
  * per-round measured results live in SURVEY §18 and
  * AdversarialCorpusSpec pins the constructed properties. */
object AdversarialCorpus {

  val Version = "v2"
  val Vocab = 800
  val Clusters = 16
  val Dim = 64
  val BurstEvery = 37
  val BurstSize = 3
  val TemplatePct = 20

  /** 60 fixed tokens. A template doc is this plus a SHORT (20-28 token)
    * heavy-tail tail: the tail keeps 5-gram Jaccard between two template
    * docs at ≤ 56/(56+2·20) ≈ 0.58 < τ=3/5 (candidate noise, never
    * recall), while 3-gram minhash argmins land inside the template with
    * p ≈ 58/(58+tail) ≈ 0.7 — p^r per band collapses a corpus-scale
    * fraction of template docs into ONE (band, band_key) bucket. */
  val Template: String =
    ("accept all cookies to continue browsing this site we use essential " +
      "and analytics cookies to improve your experience measure traffic " +
      "and personalise content by clicking agree you consent to the " +
      "placement of cookies on your device as described in our privacy " +
      "policy and terms of service you can withdraw consent at any time " +
      "from the settings page footer navigation about contact careers help")

  def dir(nDocs: Int): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_adv_corpus_${Version}_n$nDocs"

  /** uniform [0,1) from md5(tag|a|b) — 8 hex chars = 32 bits. */
  private def u01(tag: String, a: String, b: String): String =
    s"(CAST(conv(substring(md5(concat('$tag|', $a, '|', $b)), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0)"

  /** log-uniform rank in [1, n]: floor(n^u) — P(rank k) ∝ 1/k. */
  private def zipf(n: Int, tag: String, a: String, b: String): String =
    s"CAST(pow($n, ${u01(tag, a, b)}) AS INT)"

  def generate(spark: SparkSession, nDocs: Int): String = {
    val out = dir(nDocs)
    if (new java.io.File(s"$out/documents.parquet").exists &&
        new java.io.File(s"$out/embeddings.parquet").exists) return out
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // base docs: optional preamble + heavy-tail body of 40..160 tokens
    val base = spark.range(0, nDocs, 1, width).select(col("id").as("doc_id"))
      .withColumn("tmpl", expr(s"${u01("pre", "doc_id", "0")} < ${TemplatePct / 100.0}"))
      // template docs carry a SHORT tail (20..28 tokens — τ-safe, see
      // [[Template]]); plain docs a 40..160-token heavy-tail body
      .withColumn("n_tok", when(col("tmpl"), expr(s"20 + CAST(${u01("len", "doc_id", "0")} * 9 AS INT)"))
        .otherwise(expr(s"40 + CAST(${u01("len", "doc_id", "0")} * 121 AS INT)")))
      .withColumn("body", expr(
        s"array_join(transform(sequence(0, n_tok - 1), i -> concat('w', CAST(${zipf(Vocab, "t", "doc_id", "i")} AS STRING))), ' ')"))
      .withColumn("text", when(col("tmpl"), concat(lit(Template + " "), col("body")))
        .otherwise(col("body")))
      .select(col("doc_id"), col("text"))
    // near-dup bursts: copy j of base doc d substitutes ONE body token at
    // a j-distinct position with a copy-unique rare word; ids stay below
    // dupCorpus's 1,000,000 offset band
    val burstBase = base.filter(col("doc_id") % BurstEvery === 0)
    val bursts = (1 to BurstSize).map { j =>
      burstBase.select(
        (col("doc_id") + lit(j.toLong * nDocs.toLong) + lit(nDocs.toLong)).as("doc_id"),
        expr(
          s"""array_join(
             |  transform(split(text, ' '), (w, i) ->
             |    CASE WHEN i = (${7 * j + 3}) % size(split(text, ' '))
             |         THEN concat('uniq', CAST(doc_id AS STRING), '_$j')
             |         ELSE w END), ' ')""".stripMargin).as("text"))
    }.reduce(_ unionAll _)
    val docs = base.unionAll(bursts)
      .withColumn("lang", expr(s"CASE CAST(${u01("lang", "doc_id", "1")} * 4 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr' ELSE 'es' END"))
      .withColumn("source", expr(s"concat('adv-', CAST(1 + CAST(${u01("src", "doc_id", "2")} * 8 AS INT) AS STRING))"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    writeSingle(docs, out, "documents")
    // embeddings: heavy-tail cluster occupancy — cluster = log-uniform
    // rank, center dims in [-1, 1], per-vector offset in [-0.01, 0.01]
    val cOf = zipf(Clusters, "c", "vec_id", "0")
    val vecs = spark.range(0, nDocs, 1, width).select(col("id").as("vec_id"))
      .withColumn("cl", expr(cOf))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${Dim - 1}), i -> CAST(
           |  (CAST(conv(substring(md5(concat('ctr|', CAST(cl AS STRING), '|', CAST(i AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0 * 2.0 - 1.0)
           |  + (${u01("off", "vec_id", "i")} * 0.02 - 0.01) AS FLOAT))""".stripMargin))
      .select(col("vec_id"), col("embedding"), col("cl").cast("int").as("label"))
    writeSingle(vecs, out, "embeddings")
    out
  }

  /** The gate SFs are single parquet FILES (`<table>.parquet`), and the
    * oracle tooling reads them as such — flatten Spark's directory
    * output to match (the corpora are gate-SF-sized; one file is fine). */
  private def writeSingle(df: DataFrame, out: String, table: String): Unit = {
    val tmp = java.nio.file.Paths.get(out, s"_tmp_$table")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Fs.parquetFiles(tmp).headOption
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dest = java.nio.file.Paths.get(out, s"$table.parquet")
    java.nio.file.Files.deleteIfExists(dest)
    java.nio.file.Files.move(part, dest)
    Fs.rmTree(tmp)
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(5000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = generate(spark, nDocs)
    println(out)
    spark.stop()
  }
}
