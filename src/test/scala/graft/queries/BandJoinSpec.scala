package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The banded index's two band-key joins on a hand-built band-row frame:
  * the self-join ([[HashDedup.bandSelfPairs]], under [[HashDedup.bandPairsOf]])
  * and the probe join ([[HashDedup.bandProbePairs]], under
  * [[HashDedup.bandCandidates]]). */
class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Docs 1-4 over two bands: 1/2 share both band keys, 2/3 share band 0
    * only, 1/3 share band 0 too, 4 shares nothing. */
  private def rows = Seq(
    (1L, 0, "k"), (2L, 0, "k"), (3L, 0, "k"), (4L, 0, "z"),
    (1L, 1, "p"), (2L, 1, "p"), (3L, 1, "q"), (4L, 1, "r"))
    .toDF("doc_id", "band", "band_key")

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSeq.sorted

  test("the self-join yields each pair once per shared band with doc_a < doc_b") {
    val self = HashDedup.bandSelfPairs(rows)
    assert(self.columns.toSeq === Seq("band", "doc_a", "doc_b"))
    assert(self.as[(Int, Long, Long)].collect().toSeq.sorted ===
      Seq((0, 1L, 2L), (0, 1L, 3L), (0, 2L, 3L), (1, 1L, 2L)))
  }

  test("bandPairsOf counts the matching bands of each pair") {
    val counted = HashDedup.bandPairsOf(rows)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(counted === Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("the probe join drops self-pairs, orders pairs (least, greatest) and keeps carried columns") {
    // doc 3 probes with its own rows: the self-match must not pair 3 with 3
    val keys = Seq((3L, 0, "k", 7), (3L, 1, "p", 9)).toDF("doc_id", "band", "band_key", "tier")
    val probe = HashDedup.bandProbePairs(keys, rows, carry = Seq("tier"))
    assert(probe.columns.toSeq === Seq("doc_a", "doc_b", "tier"))
    assert(probe.as[(Long, Long, Int)].collect().toSeq.sorted ===
      Seq((1L, 3L, 7), (1L, 3L, 9), (2L, 3L, 7), (2L, 3L, 9)))
  }

  test("the probe join matches on the probe_key column when asked") {
    // band_key is the probe's own key (matches nothing); probe_key is the
    // perturbed one and must be the column joined
    val keys = Seq((9L, 1, "none", "q")).toDF("doc_id", "band", "band_key", "probe_key")
    assert(pairs(HashDedup.bandProbePairs(keys, rows, "probe_key")) === Seq((3L, 9L)))
    assert(pairs(HashDedup.bandProbePairs(keys, rows)).isEmpty)
  }

  test("bandCandidates returns each pair once, however many bands match") {
    val keys = Seq((5L, 0, "k"), (5L, 1, "p")).toDF("doc_id", "band", "band_key")
    assert(HashDedup.bandProbePairs(keys, rows).count() === 5)
    val cand = HashDedup.bandCandidates(keys, rows)
    assert(cand.columns.toSeq === Seq("doc_a", "doc_b"))
    assert(pairs(cand) === Seq((1L, 5L), (2L, 5L), (3L, 5L)))
  }
}
