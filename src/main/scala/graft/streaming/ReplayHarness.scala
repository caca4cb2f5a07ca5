package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared scaffold for the driver-verified streaming replays
  * (StreamDedup / StatefulSessionize / StreamJoin / StreamAsof): every
  * harness pins the production RocksDB state-store provider and a
  * state-volume-sized shuffle width, and must restore BOTH and unload its
  * state providers even when the replay fails — getting that finally
  * chain wrong in one copy re-introduces the r6 provider-accumulation
  * drag or leaks pinned confs into every later query. One definition,
  * six call sites.
  */
private[streaming] object ReplayHarness {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
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

  /** Run `body` under the pinned replay confs. `body` receives a
    * `register` callback and MUST pass it every query it starts; the
    * finally chain then — in order — stops registered queries, unloads
    * this replay's state-store providers (see StateStoreBridge scaladoc),
    * drops the memory-sink view, restores the shuffle width and the
    * provider conf, and finally runs `andThen` (file-scratch cleanup,
    * which must come after the queries are stopped).
    *
    * Conf restore subtlety: the previous provider is read via
    * `conf.getAll` (EXPLICIT entries only) — `getOption` would return the
    * registered default and turn the finally-restore into an explicit
    * pin. */
  def replay[A](spark: SparkSession, parts: Int, viewName: String,
                andThen: () => Unit = () => ())
               (body: (StreamingQuery => Unit) => A): A = {
    val prev = spark.conf.getAll.get(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try body(queries += _)
    finally {
      queries.foreach(q => if (q != null) q.stop()) // a failed replay must not leak the query + state
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
      spark.catalog.dropTempView(viewName)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(p) => spark.conf.set(ProviderKey, p)
        case None => spark.conf.unset(ProviderKey)
      }
      andThen()
    }
  }
}
