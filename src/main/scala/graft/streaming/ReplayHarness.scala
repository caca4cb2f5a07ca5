package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared scaffold for the driver-verified streaming replays: every
  * replay runs on its own child session at a state-volume-sized shuffle
  * width with the production RocksDB state-store provider, and stops its
  * queries and unloads its state providers even when it fails. One
  * definition for every replay.
  */
private[streaming] object ReplayHarness {

  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Land the replay's input bands as parquet files with strictly
    * increasing mod times: band i's part files (written to
    * `scratch/band{i}`, name-sorted within the band) move into `inDir` as
    * `band{i}_NNN.parquet` with mtime 60000·(i+1)+j. Bands are strictly
    * ordered BY MTIME — the whole determinism contract (earlier bands
    * replay first under maxFilesPerTrigger=1, e.g. an original precedes
    * its exact copy in the dedup replays) rides on `setLastModified`
    * succeeding, so a filesystem that rejects/coarsens it must fail the
    * replay loudly, not silently reorder micro-batches. One definition
    * (was 11 inline copies across the stream harnesses). */
  def landBands(scratch: java.nio.file.Path, inDir: java.nio.file.Path,
                bands: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    bands.zipWithIndex.foreach { case (df, i) =>
      val bandDir = scratch.resolve(s"band$i")
      df.write.parquet(bandDir.toString)
      val parts = graft.Fs.parquetFiles(bandDir).filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString) // within-band order deterministic too
      parts.zipWithIndex.foreach { case (p, j) =>
        val dst = inDir.resolve(f"band${i}_$j%03d.parquet")
        java.nio.file.Files.move(p, dst)
        require(dst.toFile.setLastModified(60000L * (i + 1) + j),
          s"setLastModified failed for $dst — file-order determinism contract broken")
      }
    }
  }

  /** Run `body` on a child session of `spark` ([[graft.GraftSession.scoped]])
    * at shuffle width `parts` with the RocksDB provider. Spark clones a
    * stream's session at `start()` and the offset log fixes its state
    * width, so `body` must build its `readStream`, its frames and its
    * `start()` on the session it is handed — shadowing `spark` with the
    * lambda's parameter makes that the default. `body` also receives a
    * `register` callback and MUST pass it every query it starts; the
    * finally chain then — in order — stops registered queries, unloads
    * this replay's state-store providers (see StateStoreBridge scaladoc),
    * releases the caches [[graft.CacheRegistry]] tracked under the child,
    * detaches the child's streaming listeners (DatasetBridge.detachStreams)
    * and runs `andThen` (file-scratch cleanup, which must come after the
    * queries are stopped). The child, its memory-sink views with it, is
    * then unreachable; the caller's session is never written. */
  def replay[A](spark: SparkSession, parts: Int, andThen: () => Unit = () => ())
               (body: (SparkSession, StreamingQuery => Unit) => A): A = {
    val scope = graft.GraftSession.scoped(spark, parts, RocksDb)
    val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try body(scope, queries += _)
    finally {
      queries.foreach(q => if (q != null) q.stop()) // a failed replay must not leak the query + state
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
      graft.CacheRegistry.releaseAll(scope)
      org.apache.spark.sql.graftbridge.DatasetBridge.detachStreams(scope, queries.filter(_ != null).toSeq)
      andThen()
    }
  }
}
