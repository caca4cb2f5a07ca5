package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Validate/normalize a decrypted record — the reference's whole validator
  * stage as ONE native expression (single JSON parse per record):
  *
  *  - `_lastModifiedDateTime` resolution with `_removedDateTime` /
  *    `createdDateTime` / epoch fallback, re-emitted as `{"$date": ...Z}` at
  *    the END of the object (reference: app/batch/Validator.kt:33-147 does
  *    remove+add on a linked map — same move-to-end effect).
  *  - Recursive date wrapping: every date-shaped string (`...+HHMM` or
  *    `...Z`), anywhere in the tree, becomes `{"$date":"...Z"}` in place;
  *    existing single-key `$date` objects are reformatted
  *    (reference: app/utils/DateWrapper.kt).
  *  - Drop `_archivedDateTime` when `_removedDateTime` is also present.
  *  - Scalar `_id` → `{"$oid": id}` moved to the end; manifest id / original
  *    id derivation incl. row-key reverse-engineering when `_id` is absent
  *    (reference: app/utils/IdUtility.kt:6-17, app/utils/JsonUtils.kt:7-14).
  *
  * Returns struct(record, manifest_id, original_id). Codegen emits a static
  * call — the expression stays inside the whole-stage-codegen span.
  *
  * Dates take one of two paths (see [[JsonRecordOps]]): a string of the
  * canonical UTC shape — `yyyy-MM-ddTHH:mm:ss.SSS` plus `+0000` or `Z`,
  * calendar-valid fields, year ≥ 1583 — is rewritten by text to its first
  * 23 chars + `Z`; every other date-shaped string (roll-over values, other
  * offsets, pre-Gregorian years) goes through the reference's lenient
  * SimpleDateFormat parse + format, unchanged. The shapes are classified
  * by one char scan, not by the regexes. The Jackson tree stays: the
  * move-to-end and key-sort semantics live in it.
  */
case class ValidateRecord(payload: Expression, rowKeyId: Expression)
    extends BinaryExpression {

  override def left: Expression = payload
  override def right: Expression = rowKeyId
  override def dataType: DataType = ValidateRecord.schema
  /** null result = record REJECTED (reference: Validator throws
    * BadDecryptedDataException on an unparseable lastModified chain —
    * the record is skipped, not exported). */
  override def nullable: Boolean = true

  /** Functionally deterministic — declared otherwise only to pin plan
    * placement (see EnvelopeExtract's scaladoc): the rejection filter
    * (`v IS NOT NULL`) must test the projected attribute, not a pushed-down
    * clone of the whole validator. */
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "validate_record"

  override protected def nullSafeEval(p: Any, k: Any): Any =
    JsonRecordOps.validate(p.asInstanceOf[UTF8String], k.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, k) =>
      // validate() returns null for rejected records — propagate to isNull
      // (nullSafeCodeGen alone assumes a non-null result)
      s"""${ev.value} = graft.functions.JsonRecordOps.validate($p, $k);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(payload = newLeft, rowKeyId = newRight)
}

object ValidateRecord {
  val schema: StructType = StructType(Seq(
    StructField("record", StringType, nullable = false),
    StructField("manifest_id", StringType, nullable = false),
    StructField("original_id", StringType, nullable = false)))

  def validateRecord(payload: Column, rowKeyId: Column): Column =
    ColumnBridge.toCol(ValidateRecord(
      ColumnBridge.toExpr(payload), ColumnBridge.toExpr(rowKeyId)))
}

object JsonRecordOps {
  private val mapper = new ObjectMapper()

  private val LastModified = "_lastModifiedDateTime"
  private val Created = "createdDateTime"
  private val Removed = "_removedDateTime"
  private val Archived = "_archivedDateTime"
  private val DateKey = "$date"
  private val Epoch = "1980-01-01T00:00:00.000Z"

  // reference: app/utils/DateWrapper.kt:104-105 — full-match regexes.
  // NOTE the tree wrap accepts POSITIVE offsets only (faithful to the
  // reference regex); the lastModified chain below is parsed with
  // SimpleDateFormat-ZZZZ leniency (reference Validator tests cover
  // negative offsets: Should_Change_Negative_Offset_Date_To_UTC).
  // The regexes and the formatters are the FALLBACK's: the row path
  // classifies a string with [[shape]] and formats the canonical UTC
  // shape by text ([[utcText]]).
  private val incomingRe = Pattern.compile("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}\+\d{4}""")
  private val incomingAnySignRe = Pattern.compile("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}[+-]\d{4}""")
  private val outgoingRe = Pattern.compile("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z""")

  // LENIENT SimpleDateFormat like the reference (calendar-invalid but
  // shape-valid values, e.g. Jan 32, ROLL OVER instead of erroring —
  // app/utils/DateWrapper.kt uses lenient SDF). UTC-pinned; ThreadLocal
  // because SDF is not thread-safe.
  private def sdf(pattern: String): ThreadLocal[java.text.SimpleDateFormat] =
    ThreadLocal.withInitial { () =>
      val f = new java.text.SimpleDateFormat(pattern)
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f
    }
  private val incomingSdf = sdf("yyyy-MM-dd'T'HH:mm:ss.SSSZ")
  private val outgoingSdf = sdf("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  private def parseWith(tl: ThreadLocal[java.text.SimpleDateFormat], s: String): java.util.Date =
    try tl.get().parse(s) catch { case _: java.text.ParseException => null }

  /** The fallback wrap: reformat a date-shaped string to the outgoing UTC
    * 'Z' form through the lenient SDFs; null if not date-shaped. */
  private[graft] def reformattedSdf(s: String): String =
    if (incomingRe.matcher(s).matches()) {
      val d = parseWith(incomingSdf, s)
      if (d == null) null else outgoingSdf.get().format(d)
    } else if (outgoingRe.matcher(s).matches()) {
      val d = parseWith(outgoingSdf, s)
      if (d == null) s else outgoingSdf.get().format(d)
    } else null

  /** The fallback lastModified-chain parse: like [[reformattedSdf]] but
    * accepts BOTH offset signs (reference: Validator.getValidParsedDateTime
    * via SimpleDateFormat ZZZZ, app/batch/Validator.kt:186-197). */
  private[graft] def lmReformattedSdf(s: String): String =
    if (incomingAnySignRe.matcher(s).matches()) {
      val d = parseWith(incomingSdf, s)
      if (d == null) null else outgoingSdf.get().format(d)
    } else if (outgoingRe.matcher(s).matches()) {
      val d = parseWith(outgoingSdf, s)
      if (d == null) s else outgoingSdf.get().format(d)
    } else null

  // [[shape]] classes: the three regexes above as one char scan.
  private final val NotDate = 0
  private final val PlusOffset = 1  // incomingRe
  private final val MinusOffset = 2 // incomingAnySignRe only
  private final val Zulu = 3        // outgoingRe

  /** `yyyy-MM-ddTHH:mm:ss.SSS`, '0' standing for any ASCII digit (`\d`). */
  private val Stem = "0000-00-00T00:00:00.000"

  private def digitsAt(s: String, from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      i += 1
    }
    true
  }

  /** Which of the three full-match regexes `s` matches, by one scan. */
  private def shape(s: String): Int = {
    val n = s.length
    if (n != 24 && n != 28) return NotDate
    var i = 0
    while (i < 23) {
      val t = Stem.charAt(i)
      val c = s.charAt(i)
      if (if (t == '0') c < '0' || c > '9' else c != t) return NotDate
      i += 1
    }
    val c = s.charAt(23)
    if (n == 24) { if (c == 'Z') Zulu else NotDate }
    else if (!digitsAt(s, 24, 28)) NotDate
    else if (c == '+') PlusOffset
    else if (c == '-') MinusOffset
    else NotDate
  }

  private def num(s: String, from: Int, until: Int): Int = {
    var v = 0
    var i = from
    while (i < until) { v = v * 10 + (s.charAt(i) - '0'); i += 1 }
    v
  }

  /** The text path: a string of [[shape]] PlusOffset or Zulu whose offset
    * is UTC (`+0000`/`Z`), whose fields are calendar-valid (no roll-over)
    * and whose year is Gregorian (≥ 1583, past the SDF calendar's Julian
    * cut-over) parses to the instant it spells, so the lenient SDF
    * parse + format returns its first 23 chars + `Z`. Anything else is
    * null here and goes to the SDF fallback. */
  private def utcText(s: String, k: Int): String = {
    if (!(k == Zulu || (k == PlusOffset && s.endsWith("0000")))) return null
    val y = num(s, 0, 4)
    val mo = num(s, 5, 7)
    val d = num(s, 8, 10)
    if (y < 1583 || mo < 1 || mo > 12 || d < 1 || num(s, 11, 13) > 23 ||
        num(s, 14, 16) > 59 || num(s, 17, 19) > 59) return null
    val dim =
      if (mo == 2) { if (y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)) 29 else 28 }
      else if (mo == 4 || mo == 6 || mo == 9 || mo == 11) 30
      else 31
    if (d > dim) null
    else if (k == Zulu) s
    else s.substring(0, 23).concat("Z")
  }

  /** Reformat a date-shaped string to the outgoing UTC 'Z' form; null if
    * not date-shaped. Same result as [[reformattedSdf]]. */
  private[graft] def reformatted(s: String): String = {
    val k = shape(s)
    if (k == NotDate || k == MinusOffset) null
    else {
      val t = utcText(s, k)
      if (t != null) t else reformattedSdf(s)
    }
  }

  /** lastModified-chain parse, both offset signs. Same result as
    * [[lmReformattedSdf]]. */
  private[graft] def lmReformatted(s: String): String = {
    val k = shape(s)
    if (k == NotDate) null
    else {
      val t = utcText(s, k)
      if (t != null) t else lmReformattedSdf(s)
    }
  }

  private def dateObject(formatted: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put(DateKey, formatted)
    o
  }

  private def isMongoDateObject(n: JsonNode): Boolean =
    n != null && n.isObject && n.size() == 1 && n.get(DateKey) != null && n.get(DateKey).isValueNode

  /** reference: app/utils/DateWrapper.kt — in-place recursive wrap (a
    * replaced value keeps its key's position). */
  private def wrapTree(obj: ObjectNode): Unit = {
    val it = obj.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      e.getValue match {
        case n if isMongoDateObject(n) =>
          val out = reformatted(n.get(DateKey).asText())
          if (out != null) n.asInstanceOf[ObjectNode].put(DateKey, out)
        case n: ObjectNode => wrapTree(n)
        case n: ArrayNode => wrapArray(n)
        case n: TextNode =>
          val out = reformatted(n.asText())
          if (out != null) e.setValue(dateObject(out))
        case _ => ()
      }
    }
  }

  private def wrapArray(arr: ArrayNode): Unit = {
    var i = 0
    while (i < arr.size()) {
      arr.get(i) match {
        case n: ObjectNode => wrapTree(n)
        case n: ArrayNode => wrapArray(n)
        case n: TextNode =>
          val out = reformatted(n.asText())
          if (out != null) arr.set(i, dateObject(out))
        case _ => ()
      }
      i += 1
    }
  }

  /** reference: app/batch/Validator.kt:150-176 — lm | removed | created | epoch,
    * each readable as a plain string or an existing {"$date": ...} object. */
  private def dateTimeElement(obj: ObjectNode, key: String): String = {
    val n = obj.get(key)
    if (n == null || n.isNull) ""
    else if (n.isObject) {
      val sub = n.get(DateKey)
      if (sub != null && !sub.isNull) sub.asText() else ""
    } else n.asText()
  }

  /** Top-level key sort (reference: app/utils/JsonUtils.kt:7-14). */
  def sortJsonKeys(json: String): String = sortedKeys(mapper.readTree(json).asInstanceOf[ObjectNode])

  /** [[sortJsonKeys]] of an already-parsed object: the same output as
    * serializing `node` and sorting that, without the round trip. */
  private def sortedKeys(node: ObjectNode): String = {
    val sorted = mapper.createObjectNode()
    node.fieldNames().asScala.toList.sorted.foreach(k => sorted.set[JsonNode](k, node.get(k)))
    mapper.writeValueAsString(sorted)
  }

  private def elementAsString(n: JsonNode): String = n match {
    case o: ObjectNode => sortedKeys(o)
    case _ => n.asText()
  }

  /** `sortJsonKeys({"$oid":"<raw>"})`. A `raw` that needs no JSON escape
    * (no quote, backslash or control char) parses back to itself, so the
    * sorted one-key object is spelled directly; any other goes through the
    * parse, which may reject it, as before. */
  private def oidJson(raw: String): String = {
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') return sortJsonKeys(s"""{"$$oid":"$raw"}""")
      i += 1
    }
    "{\"$oid\":\"" + raw + "\"}"
  }

  /** The full validator stage. Returns struct(record, manifest_id, original_id);
    * null = record REJECTED. Any malformed input (non-JSON payload, JSON
    * scalar/array, broken row key) rejects THE RECORD rather than failing
    * the task — the reference wraps this whole stage in a catch and skips
    * (app/batch/Validator.kt:33-76 BadDecryptedDataException + the job's
    * skip policy); a single dirty record must never abort a 100TB export. */
  def validate(payloadU: UTF8String, rowKeyIdU: UTF8String): InternalRow =
    try validateOrThrow(payloadU, rowKeyIdU)
    catch { case scala.util.control.NonFatal(_) => null }

  private def validateOrThrow(payloadU: UTF8String, rowKeyIdU: UTF8String): InternalRow = {
    // parse straight from UTF-8 bytes — skips a UTF8String→String decode
    val obj = mapper.readTree(payloadU.getBytes).asInstanceOf[ObjectNode]

    // 1. resolve + format lastModified, remove it, wrap the rest, re-append.
    val lmRaw = {
      val lm = dateTimeElement(obj, LastModified)
      if (lm.nonEmpty) lm
      else {
        val rm = dateTimeElement(obj, Removed)
        if (rm.nonEmpty) rm
        else {
          val cd = dateTimeElement(obj, Created)
          if (cd.nonEmpty) cd else Epoch
        }
      }
    }
    val lmOut = lmReformatted(lmRaw)
    if (lmOut == null) return null // unparseable date → record rejected
    obj.remove(LastModified)
    wrapTree(obj)
    obj.set[JsonNode](LastModified, dateObject(lmOut))

    // 2. drop archived when removed also present.
    if (obj.has(Archived) && obj.has(Removed)) obj.remove(Archived)

    // 3. id normalization + manifest ids. An explicit "_id": null REJECTS
    // the record (reference: JsonNull.asString throws
    // UnsupportedOperationException → BadDecryptedDataException → skipped);
    // NullNode would otherwise pass isValueNode and export {"$oid":"null"}.
    val idElement = obj.get("_id")
    if (idElement != null && idElement.isNull) return null
    val (manifestId, originalId) =
      if (idElement != null) {
        if (idElement.isValueNode) {
          obj.remove("_id")
          obj.set[JsonNode]("_id", {
            val oid = mapper.createObjectNode(); oid.put("$oid", idElement.asText()); oid
          })
        }
        val id = obj.get("_id")
        val manifestId = elementAsString(id)
        (manifestId, if (id eq idElement) manifestId else elementAsString(idElement))
      } else {
        // reference: app/utils/IdUtility.kt:6-17 — reverse-engineer from row key.
        val keyObj = mapper.readTree(rowKeyIdU.getBytes)
        if (keyObj.isObject && keyObj.size() == 1 && keyObj.has("id")) {
          val raw = keyObj.get("id").asText()
          (oidJson(raw), raw)
        } else {
          val sorted = sortedKeys(keyObj.asInstanceOf[ObjectNode])
          (sorted, sorted)
        }
      }

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromBytes(mapper.writeValueAsBytes(obj)),
      UTF8String.fromString(manifestId),
      UTF8String.fromString(originalId)))
  }
}
