package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's record sanitisation
  * (app/batch/SanitisationProcessor.kt:16-47) as one native expression:
  * its five replacements in its order, each a byte scan over the previous
  * pass's output instead of a `regexp_replace`:
  *
  *  1. for the collection-specific records only, `(?<!\\)\\[r|n]` removed
  *     (the lookbehind reads that pass's input; `|` is in the class);
  *  1. `$` → `d_`;
  *  1. the literal six-char `\u0000` removed;
  *  1. `_archivedDateTime` → `_removedDateTime`;
  *  1. `_archived` → `_removed`.
  *
  * Every pattern is ASCII and UTF-8 never uses an ASCII byte inside a
  * multi-byte char, so a byte scan finds exactly the regex's matches on
  * valid UTF-8 (the validator's output always is). Like the regex, each
  * pass is one left-to-right, non-overlapping sweep: text a removal splices
  * together is seen by the LATER passes only. A pass whose pattern's first
  * byte is absent from the record is skipped. Null semantics are those of
  * the `when`/`regexp_replace` chain it replaced: a null record gives null,
  * a null `collectionSpecific` counts as false.
  */
case class Sanitise(record: Expression, collectionSpecific: Expression) extends BinaryExpression {
  override def left: Expression = record
  override def right: Expression = collectionSpecific
  override def dataType: DataType = StringType
  override def nullable: Boolean = record.nullable
  override def prettyName: String = "sanitise"

  override def eval(input: InternalRow): Any = {
    val r = record.eval(input)
    if (r == null) null
    else {
      val cs = collectionSpecific.eval(input)
      Sanitise.sanitise(r.asInstanceOf[UTF8String], cs != null && cs.asInstanceOf[Boolean])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = record.genCode(ctx)
    val cs = collectionSpecific.genCode(ctx)
    ev.copy(code = code"""
      |${r.code}
      |boolean ${ev.isNull} = ${r.isNull};
      |UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${cs.code}
      |  ${ev.value} = graft.functions.Sanitise.sanitise(${r.value}, !${cs.isNull} && ${cs.value});
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(record = newLeft, collectionSpecific = newRight)
}

object Sanitise {
  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private val Dollar = bytes("$")
  private val DUnderscore = bytes("d_")
  private val NulEscape = bytes("\\u0000")
  private val Empty = Array.emptyByteArray
  private val ArchivedDateTime = bytes("_archivedDateTime")
  private val RemovedDateTime = bytes("_removedDateTime")
  private val Archived = bytes("_archived")
  private val Removed = bytes("_removed")

  def sanitise(v: UTF8String, collectionSpecific: Boolean): UTF8String = {
    val in = v.getBytes
    var hasBackslash = false
    var hasDollar = false
    var hasUnderscore = false
    var i = 0
    while (i < in.length) {
      val c = in(i)
      if (c == '\\') hasBackslash = true
      else if (c == '$') hasDollar = true
      else if (c == '_') hasUnderscore = true
      i += 1
    }
    var b = in
    if (collectionSpecific && hasBackslash) b = stripLineEscapes(b)
    if (hasDollar) b = replace(b, Dollar, DUnderscore)
    if (hasBackslash) b = replace(b, NulEscape, Empty)
    // `d_` from the `$` pass can start an `_archived`
    if (hasUnderscore || hasDollar) {
      b = replace(b, ArchivedDateTime, RemovedDateTime)
      b = replace(b, Archived, Removed)
    }
    if (b eq in) v else UTF8String.fromBytes(b)
  }

  /** `(?<!\\)\\[r|n]` → "": a backslash not preceded by a backslash, then
    * one of `r`, `|`, `n`. */
  private def stripLineEscapes(in: Array[Byte]): Array[Byte] = {
    def at(i: Int): Boolean =
      in(i) == '\\' && i + 1 < in.length &&
        (in(i + 1) == 'r' || in(i + 1) == '|' || in(i + 1) == 'n') &&
        (i == 0 || in(i - 1) != '\\')
    var n = 0
    var i = 0
    while (i < in.length) { if (at(i)) { n += 1; i += 2 } else i += 1 }
    if (n == 0) in
    else {
      val out = new Array[Byte](in.length - 2 * n)
      var o = 0
      i = 0
      while (i < in.length) {
        if (at(i)) i += 2
        else { out(o) = in(i); o += 1; i += 1 }
      }
      out
    }
  }

  private def indexOf(in: Array[Byte], pat: Array[Byte], from: Int): Int = {
    val first = pat(0)
    val last = in.length - pat.length
    var i = from
    while (i <= last) {
      if (in(i) == first) {
        var j = 1
        while (j < pat.length && in(i + j) == pat(j)) j += 1
        if (j == pat.length) return i
      }
      i += 1
    }
    -1
  }

  /** Every non-overlapping occurrence of `pat`, left to right, → `rep`;
    * `in` itself when there is none. */
  private def replace(in: Array[Byte], pat: Array[Byte], rep: Array[Byte]): Array[Byte] = {
    var at = indexOf(in, pat, 0)
    if (at < 0) return in
    var n = 0
    while (at >= 0) { n += 1; at = indexOf(in, pat, at + pat.length) }
    val out = new Array[Byte](in.length + n * (rep.length - pat.length))
    var from = 0
    var o = 0
    at = indexOf(in, pat, 0)
    while (at >= 0) {
      System.arraycopy(in, from, out, o, at - from)
      o += at - from
      System.arraycopy(rep, 0, out, o, rep.length)
      o += rep.length
      from = at + pat.length
      at = indexOf(in, pat, from)
    }
    System.arraycopy(in, from, out, o, in.length - from)
    out
  }

  def sanitise(record: Column, collectionSpecific: Column): Column =
    ColumnBridge.toCol(Sanitise(ColumnBridge.toExpr(record), ColumnBridge.toExpr(collectionSpecific)))
}
