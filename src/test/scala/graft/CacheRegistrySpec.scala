package graft

import graft.queries.VectorQueries
import org.apache.spark.sql.functions._

/** The serve-lifetime loan, [[CacheRegistry.withCache]]: a serve that
  * throws leaves no cache behind, and a serve over a store that lost a
  * file since the last serve reads the files, not the last serve's cache. */
class CacheRegistrySpec extends SparkSpec {

  private def cacheEntry(df: org.apache.spark.sql.DataFrame) =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  private def landTinyStore(): java.nio.file.Path = {
    val store = java.nio.file.Files.createTempDirectory("graft_cache_registry_")
    VectorQueries.cellStore(store).land(spark.range(0, 40).select(col("id").as("vec_id"),
      array(col("id").cast("float")).as("emb"), (col("id") % 4).as("cell")))
    store
  }

  test("a body that throws propagates and leaves no cache entry") {
    val df = spark.range(0, 100).select((col("id") * 2).as("x"))
    val boom = intercept[IllegalStateException] {
      CacheRegistry.withCache(df) { cached =>
        assert(cached.count() === 100L)
        assert(cacheEntry(df).nonEmpty)
        throw new IllegalStateException("serve failed")
      }
    }
    assert(boom.getMessage === "serve failed")
    assert(cacheEntry(df).isEmpty)
  }

  test("a serve after a java.nio file delete counts the delete") {
    val store = landTinyStore()
    try {
      def serve(): Long =
        CacheRegistry.withCache(VectorQueries.cellStore(store).read(spark))(_.count())
      assert(serve() === 40L)
      // the compaction drills' delete wave: one part file, no Spark write
      val victim = Fs.parquetFiles(store.resolve("cell=1")).head
      val lost = spark.read.parquet(victim.toString).count()
      assert(lost > 0L)
      java.nio.file.Files.delete(victim)
      assert(serve() === 40L - lost, "the second serve read a frozen cache")
    } finally Fs.rmTree(store)
  }

  test("the hazard the loan closes: a cache left live over the store goes stale") {
    val store = landTinyStore()
    val leaked = VectorQueries.cellStore(store).read(spark).persist()
    try {
      assert(leaked.count() === 40L)
      java.nio.file.Files.delete(Fs.parquetFiles(store.resolve("cell=1")).head)
      assert(VectorQueries.cellStore(store).read(spark).count() === 40L,
        "an identical read plan-matches the live cache and misses the delete")
    } finally { CacheRegistry.release(Seq(leaked)); Fs.rmTree(store) }
  }
}
