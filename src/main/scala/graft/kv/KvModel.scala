package graft.kv

import graft.Tables
import graft.functions.{AesCtrCrypt, IsoMillis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Base64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The versioned-KV view that stands in for the reference's HBase table
  * (SURVEY §3): `(rowkey = 4-byte-hash + id-json, version_ts, envelope)`.
  *
  * The test corpus has no HBase-shaped table, so the KV rows are CONSTRUCTED
  * deterministically from `events` — and the DuckDB oracle (KvSql.kvCte)
  * constructs the identical rows, so every downstream operator is verified
  * end-to-end on both engines. All derivations use only cross-engine-stable
  * primitives: md5, base64, integer arithmetic, millisecond formatting.
  *
  * Scale: everything here is a narrow per-row projection over the scan; the
  * one shuffle is [[withEnvelope]]'s spread, keyed for the consumer. The
  * AES-CTR encryption (envelope construction) runs inside whole-stage
  * codegen via [[AesCtrCrypt]].
  */
object KvModel {

  /** Keyspace partition width in leading-key-byte units
    * (reference: app/batch/HBasePartitioner.kt:12-41, `scan.width`). */
  val ScanWidth = 32
  /** Byte-bounded chunk target (reference: `output.batch.size.max.bytes`). */
  val ChunkMaxBytes = 16384
  val Kek = "cloudhsm:1,2"
  val EqualityTopic = "data.equality"
  val BlockedTopics: Seq[String] = Seq("database1.collection2", "database2.collection3")

  /** The CONFIGURED topic list (reference: `topic.name` CSV env — a static
    * job input, independent of what HBase actually holds). Deliberately a
    * superset of what the corpus produces: `collection4` is configured but
    * has no table, so a scan raises TableNotFoundException → status
    * Table_Unavailable (reference HBaseReader.kt:48-55) — which COUNTS AS
    * successful completion (DynamoDBExportStatusService.kt:162-165). */
  val DeclaredTopics: Seq[String] =
    Seq("data.businessAudit", "data.equality", "penalties-and-deductions.sanction") ++
      (for (d <- 0 to 2; c <- 0 to 4) yield s"database$d.collection$c")

  // Deterministic date offsets (ms) for the payload's date-shaped fields.
  val D1: Long = -86400000L   // "d1" plain +0000 string
  val D2: Long = -3600000L    // "nested.d2" already-Z string
  val A0: Long = -7200000L    // "arr[0]" +0000 string
  val CD: Long = -172800000L  // createdDateTime
  val AD: Long = -259200000L  // _archivedDateTime
  val RD: Long = -345600000L  // _removedDateTime

  /** Epoch ms → `yyyy-MM-ddTHH:mm:ss.SSS+0000` / `…Z`, UTC: the native
    * [[graft.functions.IsoMillis]], byte-identical to
    * `date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'")`
    * in graft's UTC session, by arithmetic instead of a formatter call. */
  def fmtP(ms: Column): Column = IsoMillis.isoMillis(ms, "+0000")
  def fmtZ(ms: Column): Column = IsoMillis.isoMillis(ms, "Z")

  /** Unchunked base64: Spark's `base64()` MIME-chunks beyond 76 chars (CRLF
    * every 76) when spark.sql.chunkBase64String.enabled is set, so the
    * expression is built with `chunkBase64 = false` — the same bytes
    * whatever the session conf, safe to embed in JSON, with no line-break
    * strip after it. */
  def b64(c: Column): Column =
    ColumnBridge.toCol(Base64(ColumnBridge.toExpr(c), chunkBase64 = false))

  private def s(c: Column): Column = c.cast("string")

  /** Base KV frame: one row per event with all envelope ingredients.
    * Column derivations must stay in lockstep with [[KvSql.kvCte]].
    */
  def kv(spark: SparkSession, dir: String): DataFrame =
    kvFromEvents(Tables(spark, dir).events)

  /** Same construction over ANY events-shaped frame (batch or streaming —
    * every derivation is a per-row projection, so the pipeline runs
    * unchanged under Structured Streaming). Requires event_id, user_id,
    * event_type, ts_ms columns. */
  def kvFromEvents(e: DataFrame): DataFrame = {
    val eid = col("event_id")
    val uid = col("user_id")
    val etype = col("event_type")
    val ms = col("ts_ms")

    val idJson = concat(lit("{\"id\":\""), s(eid), lit("\"}"))
    val keyHash = substring(md5(idJson), 1, 8)
    val db = when(etype === "error" || etype === "signup", lit("data"))
      .when(etype === "purchase", lit("penalties-and-deductions"))
      .otherwise(concat(lit("database"), s(uid % 3)))
    val coll = when(etype === "error", lit("businessAudit"))
      .when(etype === "signup", lit("equality"))
      .when(etype === "purchase", lit("sanction"))
      .otherwise(concat(lit("collection"), s(eid % 4)))

    e.select(
        eid.as("eid"), uid.as("uid"), etype.as("etype"), ms.as("ms"),
        // raw scan column (layout-typed: LONG nanos or TIMESTAMP micros —
        // Tables.normalizeTs): range filters built on it PUSH DOWN
        (if (e.columns.contains("ts_raw")) col("ts_raw") else col("ts")).as("ts_ns"),
        fmtP(ms).as("lm_str"),
        idJson.as("id_json"),
        keyHash.as("key_hash"),
        conv(substring(keyHash, 1, 2), 16, 10).cast("int").as("key_byte"),
        db.as("db"), coll.as("coll"),
        concat(db, lit("."), coll).as("topic"),
        when(eid % 7 === 0, lit("")).otherwise(db).as("db_msg"),
        when(eid % 11 === 0, lit("")).otherwise(coll).as("coll_msg"),
        when(eid % 13 === 0, lit("")).otherwise(lit("ODS_EXPORT")).as("outer_raw"),
        when(eid % 2 === 0, lit("MONGO_UPDATE")).otherwise(lit("MONGO_INSERT")).as("inner_type"),
        (eid % 97 =!= 0).as("valid"))
      .withColumn("payload", payloadCol)
  }

  /** The decrypted dbObject JSON, per collection family. Mirrors
    * [[KvSql.payloadSql]] exactly (string for string).
    */
  private def payloadCol: Column = {
    val eid = col("eid"); val uid = col("uid"); val ms = col("ms")
    val idPart = when(col("eid") % 3 === 0,
        concat(lit("{\"_id\":{\"y\":\"y"), s(eid), lit("\",\"x\":\"x"), s(eid), lit("\"},")))
      .when(col("eid") % 3 === 1, concat(lit("{\"_id\":\"id"), s(eid), lit("\",")))
      .otherwise(lit("{"))
    val normal = concat(
      idPart,
      lit("\"type\":\"addressDeclaration\",\"d1\":\""), fmtP(ms + D1),
      lit("\",\"nested\":{\"d2\":\""), fmtZ(ms + D2),
      lit("\"},\"arr\":[\""), fmtP(ms + A0),
      lit("\",\"plain\"],\"createdDateTime\":\""), fmtP(ms + CD), lit("\""),
      when(eid % 5 === 0 || eid % 5 === 3, concat(lit(",\"_archivedDateTime\":\""), fmtP(ms + AD), lit("\""))).otherwise(lit("")),
      when(eid % 5 === 0 || eid % 5 === 1, concat(lit(",\"_removedDateTime\":\""), fmtP(ms + RD), lit("\""))).otherwise(lit("")),
      when(eid % 2 === 0, concat(lit(",\"_lastModifiedDateTime\":\""), col("lm_str"), lit("\""))).otherwise(lit("")),
      lit("}"))
    val audit = concat(lit("{\"context\":{\"user\":\"user"), s(uid),
      lit("\"},\"auditType\":\"errorEvent\"}"))
    val equality = concat(lit("{\"_id\":\"eq"), s(eid), lit("\",\"attr\":\"value"), s(eid), lit("\"}"))
    // note value carries literal \r \n ESCAPE SEQUENCES (2 chars each) in the
    // JSON text — i.e. real CR/LF once parsed — to exercise sanitisation.
    val sanction = concat(lit("{\"_id\":\"pd"), s(eid),
      lit("\",\"note\":\"line1\\r\\nline2 for "), s(eid),
      lit("\",\"amount\":\""), s(col("ms") % 100000), lit("\"}"))

    when(col("etype") === "error", audit)
      .when(col("etype") === "signup", equality)
      .when(col("etype") === "purchase", sanction)
      .otherwise(normal)
  }

  /** Adds deterministic key material + AES/CTR ciphertext + the full envelope
    * JSON string (reference: the HBase cell value shape parsed by
    * app/batch/HBaseResultProcessor.kt:22-76). Invalid rows get a blank
    * encryptedEncryptionKey so mandatory-field validation has something to
    * reject.
    *
    * `spread` is the export pipeline's ONE exchange between the scan and the
    * per-row work, keyed for the pipeline's consumer: a range on `eid` for
    * rows ordered by `eid` (the final sort is then local), the chunk
    * window's hash for the sink and chunk rows (the window reuses it), and
    * round-robin for aggregating consumers (see [[graft.Spread]]). It sits
    * here, not in kv(): only the crypto/JSON-heavy envelope pipeline needs
    * it, plain KV scans keep their narrow no-shuffle plans, and below the
    * envelope build it moves the narrow kv row, not the ciphertext. The
    * default round-robin is a no-op on a streaming frame.
    */
  def withEnvelope(kvDf: DataFrame,
                   spread: DataFrame => DataFrame = graft.Spread.spread): DataFrame = {
    val eid = col("eid")
    val df = spread(kvDf)
      .withColumn("dkey", unhex(md5(concat(lit("dk|"), s(eid)))))
      .withColumn("ivb", unhex(md5(concat(lit("iv|"), s(eid)))))
      .withColumn("eek_b64", when(col("valid"), b64(col("dkey"))).otherwise(lit("")))
      .withColumn("iv_b64", b64(col("ivb")))
      .withColumn("ct_b64", b64(AesCtrCrypt.aesCtr(encode(col("payload"), "UTF-8"), col("dkey"), col("ivb"))))
    df.withColumn("envelope", concat(
      lit("{\"traceId\":\""), md5(s(eid)),
      lit("\",\"@type\":\""), col("outer_raw"),
      lit("\",\"message\":{\"@type\":\""), col("inner_type"),
      lit("\",\"_id\":"), col("id_json"),
      lit(",\"db\":\""), col("db_msg"),
      lit("\",\"collection\":\""), col("coll_msg"),
      lit("\",\"_lastModifiedDateTime\":\""), col("lm_str"),
      lit("\",\"encryption\":{\"encryptedEncryptionKey\":\""), col("eek_b64"),
      lit("\",\"keyEncryptionKeyId\":\""), lit(Kek),
      lit("\",\"initialisationVector\":\""), col("iv_b64"),
      lit("\"},\"dbObject\":\""), col("ct_b64"),
      lit("\"},\"timestamp\":\""), col("lm_str"),
      lit("\"}")))
  }
}
