package graft.streaming

import graft.SparkSpec

/** №200 stream_forget: the CRUD-under-streaming contracts — four data
  * micro-batches replay in order (arrivals and forget manifests on ONE
  * stream), each forget leaves the store files between serves, named
  * rows stop serving from the next serve on and never resurface, the
  * in-flight-manifest rows legitimately serve until their manifest lands
  * (the streaming leak, billed by n_del_visible falling to 0), and the
  * F2 wave removes rows that themselves arrived via the stream. */
class StreamForgetSpec extends SparkSpec {

  private lazy val run = StreamForget.streamForgetWithCensus(spark, sf)
  private lazy val byBatch = run._1.collect().groupBy(_.getLong(0))
  private lazy val detail = run._2
  private def census(b: Long, i: Int): Long = byBatch(b).head.getLong(i)
  private def isA2(id: Long) = id % 20 == 0 && (id / 20) % 2 == 1
  private def del(id: Long) = id % 9 == 4 && !isA2(id)

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

  test("four data micro-batches; manifests non-empty") {
    assert(detail.batches === 4)
    assert(detail.manifestSizes.keySet === Set(1L, 3L))
    assert(detail.manifestSizes.values.forall(_ > 0))
  }

  test("n_del_visible falls monotonically to 0 — the streaming leak billed per serve") {
    assert(census(0, 2) > 0, "manifest-named rows must serve before their manifest lands")
    assert(census(1, 2) > 0, "A1's named rows legitimately serve while F2 is in flight")
    assert(census(1, 2) < census(0, 2))
    assert(census(2, 2) === census(1, 2), "an arrival batch must not change the meter")
    assert(census(3, 2) === 0L)
  }

  test("each forget leaves the store from the next serve on, and never resurfaces") {
    // Distributed census (r14 verdict 1): the operator bills these as
    // executor-side counts over the read-back files, never an O(store)
    // id collect. F1 names base-leg rows: visible before the wave, zero
    // from the next serve on.
    assert(detail.delBaseVisible(0L) > 0, "F1's base rows must serve before F1 lands")
    Seq(1L, 2L, 3L).foreach(b =>
      assert(detail.delBaseVisible(b) === 0L, s"F1 rows visible after batch $b"))
    // F2 removes rows that ARRIVED via this same stream (the A1 leg)
    assert(detail.delA1Visible(2L) > 0, "A1 must have contributed manifest-named rows")
    assert(detail.delA1Visible(3L) === 0L)
    // and NO row named by an already-applied manifest is ever read back
    // (left-semi of the store against every applied manifest id frame)
    Seq(0L, 1L, 2L, 3L).foreach(b =>
      assert(detail.appliedVisible(b) === 0L, s"resurrected manifest row after batch $b"))
    // and a forgotten row never serves again
    detail.topk(1L).foreach { case (_, v) => assert(!(del(v) && v % 20 != 0)) }
    detail.topk(3L).foreach { case (_, v) => assert(!del(v)) }
  }

  test("the forget genuinely changes served results") {
    assert(detail.topk(0L).exists { case (_, v) => del(v) && v % 20 != 0 },
      "a named base row must be in top-k before F1 — the drill is not vacuous")
    assert(detail.topk(1L) !== detail.topk(0L))
  }
}
