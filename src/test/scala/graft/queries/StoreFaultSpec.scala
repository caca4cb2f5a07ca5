package graft.queries

import graft.{CacheRegistry, Fs, SparkSpec}
import graft.store.{Layout, PartStore, Snapshot}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A serve that throws mid-compaction, on the IVF cell store and on the
  * banded index. Each drill lands a store, appends a night as small files,
  * snapshots the touched partitions, appends the consolidated copy and
  * serves the store through a scoped cache ([[CacheRegistry.withCache]])
  * that throws before the snapshot's delete. The fault must leave no
  * cache and no persistent RDD behind, the interrupted store must resolve
  * to the same distinct rows as an uninterrupted run, and finishing the
  * delete must leave no orphan partition or file. */
class StoreFaultSpec extends SparkSpec {

  /** A store family: its store at a root, its landing and night, its
    * compaction (touched partitions, consolidated rows) and the columns a
    * serve resolves a row by. */
  private final case class Family(store: java.nio.file.Path => PartStore,
                                  fill: PartStore => Unit,
                                  compaction: PartStore => (Seq[Long], DataFrame),
                                  resolvedBy: Seq[String])

  private val ivf = Family(VectorQueries.cellStore, { s =>
    s.land(cellRows(0L, 200L))
    // the night: three micro-batch-shaped appends, one file per cell each
    (0 until 3).foreach(i => s.append(cellRows(1000L + 20L * i, 1000L + 20L * (i + 1))))
  }, { s =>
    val night = cellRows(1000L, 1060L)
    val touched = night.select(col("cell")).distinct().collect().map(_.getLong(0)).toSeq
    (touched, cellRows(0L, 200L).filter(col("cell").isin(touched.map(Long.box): _*)).unionAll(night))
  }, Seq("vec_id", "emb", "cell"))

  private val index = Family(HashDedup.bandIndex(_), { s =>
    s.append(HashDedup.atGen(bandRows(0L, 100L), 0), Layout.Files(4))
    (0 until 3).foreach { i =>
      s.append(HashDedup.atGen(bandRows(100L + 10L * i, 110L + 10L * i), 1), Layout.Files(2))
      s.append(HashDedup.atGen(bandRows(200L + 10L * i, 210L + 10L * i), 2), Layout.Files(2))
    }
  }, { _ =>
    // generations 1 and 2 consolidate into generation 10
    (Seq(1L, 2L), HashDedup.atGen(bandRows(100L, 130L).unionAll(bandRows(200L, 230L)), 10))
  }, Seq("doc_id", "band", "band_key")) // a band row's generation is not its identity

  private def cellRows(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("emb"), (col("id") % 8).as("cell"))

  private def bandRows(from: Long, until: Long): DataFrame =
    spark.range(from, until).crossJoin(spark.range(0, 4).withColumnRenamed("id", "b"))
      .select(col("id").as("doc_id"), col("b").cast("int").as("band"),
        md5(concat_ws(":", col("id") % 17, col("b"))).as("band_key"))

  private class ServeFailed extends RuntimeException("serve failed mid-compaction")

  /** Fill a fresh store of `f`, snapshot its touched partitions and append
    * the consolidated copy. Returns the store and the snapshot, not yet
    * deleted. */
  private def compacting(f: Family): (PartStore, Snapshot) = {
    val store = f.store(java.nio.file.Files.createTempDirectory("graft_store_fault_"))
    f.fill(store)
    val (touched, consolidated) = f.compaction(store)
    val doomed = store.snapshot(touched)
    store.append(consolidated)
    (store, doomed)
  }

  /** Serve `store` through a scoped cache, throwing inside it when `fail`. */
  private def serve(store: PartStore, fail: Boolean): Unit =
    CacheRegistry.withCache(store.read(spark)) { back =>
      assert(back.count() > 0L)
      if (fail) throw new ServeFailed
    }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** What the store holds besides partitions with data files: empty
    * directories and checksums whose data file is gone. */
  private def orphans(store: PartStore): Seq[String] = {
    val walk = java.nio.file.Files.walk(store.root)
    val all = try { import scala.jdk.CollectionConverters._; walk.iterator().asScala.toList }
      finally walk.close()
    val emptyDirs = all.filter(p => java.nio.file.Files.isDirectory(p) && Fs.list(p).isEmpty)
    val crcs = all.map(_.getFileName.toString).filter(n => n.startsWith(".part-") && n.endsWith(".crc"))
    val dataNames = all.map(_.getFileName.toString).toSet
    emptyDirs.map(d => s"empty directory $d") ++
      crcs.filterNot(c => dataNames(c.stripPrefix(".").stripSuffix(".crc"))).map(c => s"orphan checksum $c")
  }

  Seq("IVF cell store" -> ivf, "banded index" -> index).foreach { case (name, f) =>
    test(s"$name: a serve that throws before the snapshot delete leaves no cache and resolves like an uninterrupted run") {
      val (clean, cleanDoomed) = compacting(f)
      serve(clean, fail = false)
      cleanDoomed.delete()
      val persistentBefore = spark.sparkContext.getPersistentRDDs.keySet
      val (store, doomed) = compacting(f)
      try {
        intercept[ServeFailed](serve(store, fail = true))
        assert(spark.sharedState.cacheManager.isEmpty, "the failed serve left a cache entry")
        assert(spark.sparkContext.getPersistentRDDs.keySet === persistentBefore,
          "the failed serve left a persistent RDD")
        // interrupted mid-compaction: old and consolidated copies both
        // live, and the distinct rows are the finished store's
        def resolved(s: PartStore): Seq[Row] = rows(s.read(spark).select(f.resolvedBy.map(col): _*).distinct())
        assert(resolved(store) === resolved(clean))
        doomed.delete()
        assert(store.parts === clean.parts)
        assert(store.fileCounts === clean.fileCounts)
        assert(store.fileCounts.values.forall(_ > 0))
        assert(orphans(store).isEmpty, orphans(store).mkString("\n"))
        assert(rows(store.read(spark)) === rows(clean.read(spark)))
      } finally { Fs.rmTree(clean.root); Fs.rmTree(store.root) }
    }
  }
}
