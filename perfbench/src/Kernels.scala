package perfbench

import graft.functions.{AesCtrCrypt, CosineSim, EnvelopeExtract, SimHash60, ValidateRecord, VectorOps}
import graft.kv.KvModel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-row cost of graft's native Catalyst kernels, and of the built-in
  * formulations two of them replaced, over fixed generated frames.
  *
  * Two frames (envelopes built by graft.kv with token arrays, and pairs of
  * 64-d float vectors, many more rows because cosine is cheap) are
  * materialised once, each in a single partition, so a timing is one core's
  * work. A kernel's cost is the median wall of projecting it over its frame,
  * minus the median wall of projecting its bare input columns, divided by the
  * row count.
  */
object Kernels {
  val Rows = 10000
  val VecRows = 20000
  val Reps = 3

  private val envSchema = StructType(Seq(
    StructField("@type", StringType),
    StructField("message", StructType(Seq(
      StructField("@type", StringType), StructField("_id", StringType),
      StructField("db", StringType), StructField("collection", StringType),
      StructField("_lastModifiedDateTime", StringType),
      StructField("encryption", StructType(Seq(
        StructField("encryptedEncryptionKey", StringType),
        StructField("keyEncryptionKeyId", StringType),
        StructField("initialisationVector", StringType)))),
      StructField("dbObject", StringType))))))

  def records(spark: SparkSession): DataFrame = {
    val id = col("id")
    val vocab = array("spark window merge table column vector stream value data small join filter big group hash customer sort order slow line part fast row the agg key query a scan batch"
      .split(" ").toSeq.map(lit): _*)
    val events = spark.range(Rows).select(
      id.as("event_id"), (id % 1500).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*), (id % 5 + 1).cast("int")).as("event_type"),
      (lit(1704067200000L) + id * 25000L).as("ts_ms"))
      .withColumn("ts", col("ts_ms") * 1000000L)
    KvModel.withEnvelope(KvModel.kvFromEvents(events))
      .select(col("envelope"), col("topic"), col("payload"), col("dkey"), col("ivb"), col("id_json"),
        transform(sequence(lit(1), lit(10) + (col("eid") % 91).cast("int")),
          i => element_at(vocab, pmod(hash(col("eid"), i), lit(30)) + 1)).as("tokens"))
      .repartition(1)
  }

  def vectors(spark: SparkSession): DataFrame =
    spark.range(VecRows).select(
      transform(sequence(lit(0), lit(63)), i => sin(col("id") * 64 + i).cast("float")).as("a"),
      transform(sequence(lit(0), lit(63)), i => cos(col("id") + i).cast("float")).as("b"))
      .repartition(1)

  private def wallS(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  def nsPerRow(spark: SparkSession): Map[String, Double] = {
    val f = records(spark).persist()
    val v = vectors(spark).persist()
    f.count(); v.count()
    def cost(inputs: Seq[String], kernel: Column, df: DataFrame = f): Double = {
      val base = PerfBench.median((1 to Reps).map(_ => wallS(df.select(inputs.map(col): _*))))
      val k = PerfBench.median((1 to Reps).map(_ => wallS(df.select(kernel.as("k")))))
      (k - base) / df.count() * 1e9
    }
    val a = col("a"); val b = col("b")
    val out = Map(
      "functions.aes_ctr.ns_per_row" ->
        cost(Seq("payload", "dkey", "ivb"), AesCtrCrypt.aesCtr(encode(col("payload"), "UTF-8"), col("dkey"), col("ivb"))),
      "functions.envelope_extract.ns_per_row" ->
        cost(Seq("envelope", "topic"), EnvelopeExtract.envelopeExtract(col("envelope"), col("topic"))),
      "functions.envelope_extract.builtin_ns_per_row" ->
        cost(Seq("envelope", "topic"), from_json(col("envelope"), envSchema)),
      "functions.validate_record.ns_per_row" ->
        cost(Seq("payload", "id_json"), ValidateRecord.validateRecord(col("payload"), col("id_json"))),
      "functions.simhash60.ns_per_row" -> cost(Seq("tokens"), SimHash60.simhash60(col("tokens"))),
      "functions.cosine_sim.ns_per_row" -> cost(Seq("a", "b"), CosineSim.cosineSim(a, b), v),
      "functions.cosine_sim.builtin_ns_per_row" ->
        cost(Seq("a", "b"), VectorOps.dot(a, b) / (VectorOps.norm(a) * VectorOps.norm(b)), v))
    f.unpersist(blocking = true)
    v.unpersist(blocking = true)
    out
  }
}
