package graft.functions

import graft.SparkSpec
import graft.kv.KvModel
import graft.operators.ExportOps
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The export row path's byte-code kernels against the formulations they
  * replaced, on generated edge inputs: the validator's text date path vs
  * its SimpleDateFormat path, the native sanitiser vs the `regexp_replace`
  * chain, the arithmetic ISO date vs `date_format`, and the unchunked
  * base64 vs the line-break strip. */
class RowKernelSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // ---------------------------------------------------------------- validator dates

  private val years = Seq("0000", "0001", "1000", "1582", "1583", "1600", "1900", "1970",
    "2000", "2023", "2024", "2100", "2400", "9999")
  private val months = Seq("00", "01", "02", "04", "06", "09", "11", "12", "13")
  private val days = Seq("00", "01", "28", "29", "30", "31", "32")
  private val times = Seq("00:00:00", "23:59:59", "24:00:00", "23:60:00", "23:59:60", "12:34:56")
  private val millis = Seq("000", "999")
  private val offsets = Seq("+0000", "-0000", "+0100", "-0530", "+2359", "-9999", "Z")

  private val dateGrid: Seq[String] =
    for (y <- years; mo <- months; d <- days; t <- times; ms <- millis; o <- offsets)
      yield s"$y-$mo-${d}T$t.$ms$o"

  /** Near-shapes: one char of a date replaced, dropped or doubled. */
  private val nearShapes: Seq[String] = {
    val base = Seq("2024-02-29T23:59:59.999+0000", "2024-02-29T23:59:59.999Z", "1999-12-31T00:00:00.000-0530")
    val swaps = Seq('0', '9', 'x', ' ', '-', '+', ':', 'T', 'Z', '٣', '０')
    base.flatMap { s =>
      s.indices.flatMap { i =>
        swaps.map(c => s.updated(i, c)) ++
          Seq(s.substring(0, i) + s.substring(i + 1), s.substring(0, i) + s(i) + s.substring(i))
      }
    } ++ Seq("", "Z", "+0000", "2024-01-01", "2024-01-01T00:00:00+0000", "2024-01-01T00:00:00.0000Z")
  }

  test("validator text date path equals the lenient SimpleDateFormat path") {
    val inputs = dateGrid ++ nearShapes
    // the grid must reach both paths: shapes the SDFs return as spelled
    // (the text path's) and shapes they roll over or shift
    val sdf = inputs.map(s => s -> JsonRecordOps.reformattedSdf(s))
    assert(sdf.count { case (s, o) => o != null && o.substring(0, 23) == s.substring(0, 23) } > 100)
    assert(sdf.count { case (s, o) => o != null && o.substring(0, 23) != s.substring(0, 23) } > 100)
    inputs.foreach { s =>
      assert(JsonRecordOps.reformatted(s) == JsonRecordOps.reformattedSdf(s), s"wrap: $s")
      assert(JsonRecordOps.lmReformatted(s) == JsonRecordOps.lmReformattedSdf(s), s"lastModified: $s")
    }
  }

  test("validator records are unchanged by the text path on the spec's date edges") {
    // whole-record check: dates in the tree, in arrays, in {"$date"}, and as lastModified
    val picks = dateGrid.filter(_.hashCode % 7 == 0)
    picks.foreach { d =>
      val payload = s"""{"a":"$d","n":{"$$date":"$d"},"arr":["$d"],"_lastModifiedDateTime":"$d"}"""
      val got = JsonRecordOps.validate(
        org.apache.spark.unsafe.types.UTF8String.fromString(payload),
        org.apache.spark.unsafe.types.UTF8String.fromString("""{"id":"1"}"""))
      val lm = JsonRecordOps.lmReformattedSdf(d)
      if (lm == null) assert(got == null, s"rejected by the reference, kept: $d")
      else {
        def w(s: String): String = Option(JsonRecordOps.reformattedSdf(s)).map(x => s"""{"$$date":"$x"}""").getOrElse(s""""$s"""")
        val nd = Option(JsonRecordOps.reformattedSdf(d)).getOrElse(d)
        val expected = s"""{"a":${w(d)},"n":{"$$date":"$nd"},"arr":[${w(d)}],"_lastModifiedDateTime":{"$$date":"$lm"}}"""
        assert(got.getUTF8String(0).toString == expected, d)
      }
    }
  }

  // ---------------------------------------------------------------- sanitiser

  /** The `regexp_replace` chain the native sanitiser replaced — the
    * reference (app/batch/SanitisationProcessor.kt:16-47), verbatim. */
  private def sanitiseChain(record: Column, db: Column, coll: Column): Column = {
    val collectionSpecific =
      (db === "penalties-and-deductions" && coll === "sanction") ||
        (db === "core" && coll === "healthAndDisabilityDeclaration") ||
        (db === "accepted-data" && coll === "healthAndDisabilityCircumstances")
    val step0 = when(collectionSpecific, regexp_replace(record, """(?<!\\)\\[r|n]""", "")).otherwise(record)
    val step1 = regexp_replace(step0, """\$""", "d_")
    val step2 = regexp_replace(step1, """\\u0000""", "")
    val step3 = regexp_replace(step2, "_archivedDateTime", "_removedDateTime")
    regexp_replace(step3, "_archived", "_removed")
  }

  private val sanitiseTokens = Seq("$", "\\", "\\\\", "r", "n", "|", "\\r", "\\n", "\\|", "\\\\r",
    "u0000", "\\u0000", "\\\\u0000", "_arch", "ived", "_archived", "DateTime", "_archivedDateTime",
    "_", "a", "d_", "\"", "{", "}", ":", "é", "日本", "😀", " ", "\\t")

  test("native sanitiser equals the regexp_replace chain") {
    val recGen = Gen.listOfN(14, Gen.oneOf(sanitiseTokens)).flatMap(ts =>
      Gen.choose(0, 14).map(n => ts.take(n).mkString))
    val records: Seq[String] = sample(recGen, 600) ++ Seq(
      "", "$", "\\r\\n", "a\\\\rb", "\\\\\\r", "_arch\\u0000ived", "_archived\\u0000DateTime",
      "$archived", "\\u0000\\u0000", "\\u\\u00000000", "x\\|y", "\\r\\\\n\\n", "ключ $ значение", null)
    val colls = Seq(("penalties-and-deductions", "sanction"), ("core", "healthAndDisabilityDeclaration"),
      ("accepted-data", "healthAndDisabilityCircumstances"), ("db", "c"), (null, "sanction"), ("core", null))
    val rows = for ((r, i) <- records.zipWithIndex) yield {
      val (db, coll) = colls(i % colls.size)
      Row(r, db, coll)
    }
    val schema = StructType(Seq("rec", "db", "coll").map(StructField(_, StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = df.select(
      ExportOps.sanitise(col("rec"), col("db"), col("coll")).as("got"),
      sanitiseChain(col("rec"), col("db"), col("coll")).as("want"), col("rec")).collect()
    assert(out.count(r => r.getString(0) != r.getString(2)) > 100, "inputs barely exercise the passes")
    out.foreach(r => assert(r.getString(0) == r.getString(1), s"input: ${r.getString(2)}"))
    // the interpreted eval too (the select above ran the generated code)
    val specific = Set(("penalties-and-deductions", "sanction"), ("core", "healthAndDisabilityDeclaration"),
      ("accepted-data", "healthAndDisabilityCircumstances"))
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val expr = Sanitise(BoundReference(0, StringType, nullable = true), BoundReference(1, BooleanType, nullable = true))
    rows.zip(out).foreach { case (r, o) =>
      val cs = specific((r.getString(1), r.getString(2)))
      val got = expr.eval(InternalRow(
        Option(r.getString(0)).map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull, cs))
      assert(Option(got).map(_.toString).orNull == o.getString(1), s"interpreted: ${r.getString(0)}")
    }
  }

  // ---------------------------------------------------------------- ISO dates

  test("arithmetic ISO date equals date_format(timestamp_millis(ms))") {
    val lo = -62135596800000L   // 0001-01-01T00:00:00.000
    val hi = 253402300799999L   // 9999-12-31T23:59:59.999
    val day = 86400000L
    val edges = Seq(lo, lo + 1, hi, hi - 1, 0L, -1L, 1L, -day, -day - 1, day - 1,
      951782400000L, 951868799999L, 4107542400000L, -12219292800000L, -12219292800001L,
      lo - 1, hi + 1, lo - 400L * 365 * day, hi + 400L * 365 * day)
    val ms = edges ++ sample(Gen.choose(lo, hi), 3000) ++ sample(Gen.choose(-3L * day, 3L * day), 500)
    val df = ms.toDF("ms")
    for ((sfx, ref) <- Seq("+0000" -> "yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'", "Z" -> "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")) {
      val out = df.select(col("ms"), IsoMillis.isoMillis(col("ms"), sfx).as("got"),
        date_format(timestamp_millis(col("ms")), ref).as("want")).collect()
      out.foreach(r => assert(r.getString(1) == r.getString(2), s"ms=${r.getLong(0)}"))
      assert(IsoMillis.format(lo, sfx).toString == s"0001-01-01T00:00:00.000$sfx")
    }
    assert(Seq(null.asInstanceOf[java.lang.Long]).toDF("ms")
      .select(KvModel.fmtP(col("ms"))).head().isNullAt(0))
  }

  // ---------------------------------------------------------------- base64

  test("unchunked base64 equals base64 with line breaks stripped, under either chunk conf") {
    val key = "spark.sql.chunkBase64String.enabled"
    val before = spark.conf.getOption(key)
    val bins = (0 to 300).map(n => Array.tabulate[Byte](n)(i => ((i * 131 + n * 7) % 256).toByte))
    try {
      for (chunk <- Seq("true", "false")) {
        spark.conf.set(key, chunk)
        val df = bins.toDF("b")
        val out = df.select(KvModel.b64(col("b")), regexp_replace(base64(col("b")), "[\\r\\n]", "")).collect()
        out.zip(bins).foreach { case (r, b) =>
          assert(r.getString(0) == r.getString(1), s"length ${b.length}, chunk=$chunk")
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
