package graft

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** The two cache lifetimes a query builder uses.
  *
  * QUERY lifetime — [[track]]: for frames the RETURNED plan references.
  * A query builder cannot `unpersist()` those itself: releasing before
  * the action would silently recompute the corpus once per consumer. The
  * builder `track`s its persists; the code that runs the action calls
  * [[releaseAll]] once the result is materialized (bench loops,
  * notebooks, the Verify sweep).
  *
  * SERVE lifetime — [[withCache]]: for reads over a store that mutates
  * between serves. See its doc for why such a cache must not outlive the
  * serve.
  */
object CacheRegistry {
  import org.apache.spark.sql.SparkSession
  private val live = mutable.Map.empty[SparkSession, mutable.ArrayBuffer[DataFrame]]

  def track(df: DataFrame): DataFrame = synchronized {
    live.getOrElseUpdate(df.sparkSession, mutable.ArrayBuffer.empty) += df; df
  }

  /** Persist `df`, run `body` over the cached frame and unpersist in
    * `finally` — the only way a serve caches a store read-back.
    *
    * A read-back is persisted so the serve's probe join and its census
    * share one scan of the store's files. The store's files mutate
    * between serves, and CacheManager plan-matches a LIVE cache entry
    * into the next serve's identical `spark.read.parquet(store)`: a
    * Spark write to the path re-caches the entry, but a `java.nio`
    * delete (a dropped generation, a compaction's delete wave) does not,
    * so the next serve would read a stale file listing — measured at
    * sf0.01 as FILE_NOT_EXIST after a generation drop and as frozen
    * `n_rows` censuses. Scoping the cache to the serve makes that
    * impossible, and a serve that throws leaves no cache behind. */
  def withCache[A](df: DataFrame)(body: DataFrame => A): A = {
    val cached = df.persist()
    try body(cached) finally cached.unpersist()
  }

  /** Unpersist frames the registry does not track (never throws). Frames
    * built from a streaming `foreachBatch` DataFrame belong to the
    * stream's cloned session, which [[releaseAll]] on the caller's
    * session never reaches: the replay releases them when it ends. */
  def release(dfs: Iterable[DataFrame]): Unit =
    dfs.foreach(df => try df.unpersist() catch { case scala.util.control.NonFatal(_) => () })

  /** Release the caches tracked for ONE session (idempotent, never
    * throws) — a second session or a concurrent streaming job sharing the
    * JVM keeps its caches. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    live.remove(spark).foreach(release)
  }

  /** Release everything tracked in this JVM (single-session drivers). */
  def releaseAll(): Unit = synchronized {
    live.keys.toSeq.foreach(releaseAll)
  }
}
