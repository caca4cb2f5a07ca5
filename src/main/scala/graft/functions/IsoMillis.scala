package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Expression, Literal, MillisToTimestamp, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Epoch milliseconds → `yyyy-MM-ddTHH:mm:ss.SSS` + a literal `suffix`, in
  * UTC and the proleptic Gregorian calendar: byte-identical to
  * `date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss.SSS'<suffix>'")`
  * in a UTC session (graft's), without the per-call formatter. Years
  * 0001-9999 are formatted by civil-from-days arithmetic; any other year
  * goes through that same Spark expression. The zone is UTC whatever the
  * session's, which the KV model's `'+0000'` literal already assumes.
  */
case class IsoMillis(ms: Expression, suffix: String) extends UnaryExpression {
  override def child: Expression = ms
  override def dataType: DataType = StringType
  override def prettyName: String = "iso_millis"

  override protected def nullSafeEval(input: Any): Any =
    IsoMillis.format(input.asInstanceOf[Long], suffix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sfx = ctx.addReferenceObj("isoSuffix", suffix, "java.lang.String")
    defineCodeGen(ctx, ev, c => s"graft.functions.IsoMillis.format($c, $sfx)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(ms = newChild)
}

object IsoMillis {
  private val MsPerDay = 86400000L

  def format(ms: Long, suffix: String): UTF8String = {
    val days = Math.floorDiv(ms, MsPerDay)
    var t = Math.floorMod(ms, MsPerDay).toInt
    // civil-from-days (H. Hinnant): eras of 400 years from 0000-03-01
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    if (year < 1 || year > 9999) return viaSpark(ms, suffix)

    val out = new Array[Byte](23 + suffix.length)
    def put(at: Int, v: Int, width: Int): Unit = {
      var i = at + width - 1
      var x = v
      while (i >= at) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    }
    put(0, year.toInt, 4); out(4) = '-'
    put(5, month, 2); out(7) = '-'
    put(8, day, 2); out(10) = 'T'
    put(11, t / 3600000, 2); out(13) = ':'; t %= 3600000
    put(14, t / 60000, 2); out(16) = ':'; t %= 60000
    put(17, t / 1000, 2); out(19) = '.'
    put(20, t % 1000, 3)
    var i = 0
    while (i < suffix.length) { out(23 + i) = suffix.charAt(i).toByte; i += 1 }
    UTF8String.fromBytes(out)
  }

  private def viaSpark(ms: Long, suffix: String): UTF8String =
    DateFormatClass(MillisToTimestamp(Literal(ms)),
      Literal(s"yyyy-MM-dd'T'HH:mm:ss.SSS'$suffix'"), Some("UTC"))
      .eval().asInstanceOf[UTF8String]

  /** `suffix` must be ASCII without a quote: it is written byte per char,
    * and quoted as a pattern literal on the Spark path. */
  def isoMillis(ms: Column, suffix: String): Column =
    ColumnBridge.toCol(IsoMillis(ColumnBridge.toExpr(ms.cast("long")), suffix))
}
