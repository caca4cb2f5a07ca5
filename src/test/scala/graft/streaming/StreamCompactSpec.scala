package graft.streaming

import graft.SparkSpec

/** №217 stream_compact: compaction's write-then-delete halves interleaved
  * with live appends on ONE stream — the overlap inflates n_rows by
  * exactly the consolidation bill and never the top-k, the delete removes
  * exactly the C1-snapshotted files, and the files A2 landed into the
  * SAME cell directories mid-compaction survive C2 (the snapshot-at-
  * write-time theorem: a re-listing delete would have eaten them). */
class StreamCompactSpec extends SparkSpec {

  private lazy val run = StreamCompact.streamCompactWithCensus(spark, sf)
  private lazy val byBatch = run._1.collect().groupBy(_.getLong(0))
  private lazy val detail = run._2
  private def nRows(b: Long) = byBatch(b).head.getLong(1)
  private def nDistinct(b: Long) = byBatch(b).head.getLong(2)
  private def cellOf(path: String): Long =
    "cell=(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong

  // first in the suite: it snapshots the persistent RDDs before `run`
  // is forced. Micro-batch frames belong to the stream's cloned session,
  // which releaseAll(spark) never reaches — the replay must free them.
  test("the replay leaves no cached frame once the query's caches are released") {
    graft.CacheRegistry.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run
    graft.CacheRegistry.releaseAll(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("four batches; the overlap bills n_rows exactly and the top-k never") {
    assert(detail.batches === 4)
    assert(detail.touched.nonEmpty && detail.rewrittenRows > 0)
    assert(nRows(1) - nRows(0) === detail.rewrittenRows,
      "C1 lands the consolidated copy next to the originals")
    assert(nRows(2) - nRows(1) === nDistinct(2) - nDistinct(1),
      "A2 adds exactly its own rows while the overlap persists")
    assert(nRows(3) === nRows(2) - detail.rewrittenRows,
      "C2 removes exactly the doomed originals")
    assert(nDistinct(1) === nDistinct(0), "the overlap never changes membership")
    assert(nDistinct(3) === nDistinct(2) && nDistinct(2) > nDistinct(1))
    assert(detail.topk(1L) === detail.topk(0L), "mid-compaction serve identical")
    assert(detail.topk(3L) === detail.topk(2L), "post-delete serve identical")
    assert(detail.topk(2L) !== detail.topk(1L),
      "A2 genuinely changes results — the interleave is not vacuous")
  }

  test("the delete set was snapshotted at write time: A2's files survive C2") {
    assert(detail.doomedFiles.nonEmpty)
    assert(detail.a2Files.nonEmpty,
      "A2 must land files into the touched cells mid-compaction — the corner is real")
    assert(detail.doomedFiles.intersect(detail.a2Files).isEmpty)
    val doomedByCell = detail.doomedFiles.groupBy(cellOf).map { case (c, f) => c -> f.size }
    detail.touched.foreach { c =>
      assert(detail.filesAt(3L)(c) === detail.filesAt(2L)(c) - doomedByCell.getOrElse(c, 0),
        s"cell $c: C2 must delete exactly the C1 snapshot, nothing else")
      assert(detail.filesAt(3L)(c) >= 1, s"cell $c lost its consolidated file")
    }
  }
}
