package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Injectable versioned-KV source — the explicit seam where a production
  * deployment plugs the REAL table read under the export operators. The
  * reference reads an HBase table (dwp/hbase-to-mongo-export
  * app/batch/HBaseReader.kt); a cluster deployment implements this trait
  * with a Spark HBase connector DataFrame (or any versioned-KV
  * connector), sets `spark.graft.kvSource=<impl class>` on the session,
  * and every export operator reads through it unchanged. The sandbox has
  * no HBase service, so the default implementation is the deterministic
  * parquet-backed view ([[graft.kv.KvModel]]) whose rows the DuckDB
  * oracle reconstructs — correctness is proven on the synthetic source
  * and carries to any source honoring the same column contract.
  *
  * Column contract (a MINIMUM — implementations may add columns):
  *
  *  - [[kv]] (scan shape, one row per cell version): `eid` LONG cell id,
  *    `uid` LONG row-grouping key, `ms` LONG version epoch-millis,
  *    `ts_ns` LONG raw scan timestamp (nanos — time-range predicates on
  *    it must reach the storage scan), `id_json` STRING, `key_hash`
  *    STRING (4-byte hash prefix, hex), `key_byte` INT leading key byte,
  *    `db`/`coll`/`topic` STRING routing, `lm_str` STRING formatted
  *    last-modified.
  *  - [[envelopes]]: [[kv]] plus `envelope` STRING — the raw JSON cell
  *    value (the HBase cell the reference parses:
  *    app/batch/HBaseResultProcessor.kt:22-76).
  *
  * The synthetic source additionally exposes provenance columns
  * (`etype`, `uid`, plaintext `payload`, `valid`) that exist only
  * because it CONSTRUCTS the data; proof queries may pre-filter on them,
  * but portable predicates use the contract columns (topic, ts_ns,
  * key_byte).
  */
trait KvSource {
  def kv(spark: SparkSession, dir: String): DataFrame
  def envelopes(spark: SparkSession, dir: String): DataFrame

  /** [[envelopes]] restricted by a pre-envelope predicate over the
    * contract's cheap columns (topic / ts_ns / key_byte), then spread.
    *
    * The predicate: the DEFAULT is a post-hoc DataFrame filter — whether
    * that reaches the store depends entirely on the connector's Catalyst
    * pushdown, and a source that COMPUTES its envelope column defeats it.
    * A real connector should override this and translate the predicate
    * into its scan (the reference's Scan.setTimeRange / setStartRow),
    * which is the only way a 100 TB table is range-read rather than fully
    * scanned.
    *
    * The spread: the exchange the export pipeline's consumer needs
    * ([[graft.kv.KvModel.withEnvelope]] documents the keys). It is the
    * pipeline's only exchange below its per-row work (extract, decrypt,
    * validate, sanitise), so that work runs once per row: the consumer's
    * sort or chunk window reuses it. By DEFAULT a connector's stored
    * envelopes go through it right after the scan, which moves the stored
    * cell bytes once; the synthetic source places it below its envelope
    * construction. */
  def envelopes(spark: SparkSession, dir: String, kvPred: Column,
                spread: DataFrame => DataFrame = graft.Spread.spread): DataFrame =
    spread(envelopes(spark, dir).filter(kvPred))
}

/** Default source: the deterministic parquet-backed KV view. `envelopes`
  * CONSTRUCTS the encrypted cell (the sandbox holds no pre-encrypted
  * data); a real source returns the stored cell value as-is. */
final class SyntheticKvSource extends KvSource {
  override def kv(spark: SparkSession, dir: String): DataFrame =
    graft.kv.KvModel.kv(spark, dir)
  override def envelopes(spark: SparkSession, dir: String): DataFrame =
    graft.kv.KvModel.withEnvelope(graft.kv.KvModel.kv(spark, dir))
  /** Predicate BEFORE the envelope construction: the filter lands on the
    * raw parquet columns (plan-pinned pushdown — PlanRegressionSpec), the
    * synthetic stand-in for a connector translating it into its scan. The
    * spread lands between the filtered scan and the envelope build, so
    * the exchange (and a range exchange's sample job) reads the kv row,
    * never the ciphertext. */
  override def envelopes(spark: SparkSession, dir: String, kvPred: Column,
                         spread: DataFrame => DataFrame): DataFrame =
    graft.kv.KvModel.withEnvelope(kv(spark, dir).filter(kvPred), spread)
}

object KvSource {
  val ConfKey = "spark.graft.kvSource"

  /** Resolve the configured source (reflective, zero-arg constructor) —
    * cached per class name; the default synthetic source is a singleton.
    * Loads via the thread's context classloader first: a production
    * connector shipped with --jars / spark.jars lives in Spark's
    * session-isolated classloader, which the defining loader of this
    * class cannot see; the defining loader stays as the fallback for
    * bare-classpath runs (tests, tools/run.sh). */
  @volatile private var cached: (String, KvSource) = null
  def resolve(spark: SparkSession): KvSource = {
    val cn = spark.conf.get(ConfKey, classOf[SyntheticKvSource].getName)
    val c = cached
    if (c != null && c._1 == cn) c._2
    else {
      val cls =
        try Class.forName(cn, true, Thread.currentThread().getContextClassLoader)
        catch { case _: ClassNotFoundException | _: NullPointerException => Class.forName(cn) }
      val src = cls.getDeclaredConstructor().newInstance().asInstanceOf[KvSource]
      cached = (cn, src)
      src
    }
  }

  def kv(spark: SparkSession, dir: String): DataFrame = resolve(spark).kv(spark, dir)
  def envelopes(spark: SparkSession, dir: String): DataFrame = resolve(spark).envelopes(spark, dir)

  /** The filtered, spread [[KvSource.envelopes]] of the configured source
    * — see the trait method for the pushdown and spread contract. */
  def envelopes(spark: SparkSession, dir: String, kvPred: Column,
                spread: DataFrame => DataFrame = graft.Spread.spread): DataFrame =
    resolve(spark).envelopes(spark, dir, kvPred, spread)
}
