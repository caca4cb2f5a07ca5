package graft.sources

import graft.SparkSpec

/** №220 shard_increment: the append-only shard generation — zero history
  * rewrites (every gen-0 file (size, mtime)-identical), supersede lines
  * resolved last-writer-wins, new positions past each shard's gen-0
  * maximum, and the read-amplification bill exact. */
class ShardIncrementSpec extends SparkSpec {

  private lazy val run = ShardIncrement.shardIncrementWithDetail(spark, sf)
  private lazy val rows = run._1.collect()
  private lazy val detail = run._2

  test("history is never rewritten: every gen-0 file survives bit-stable") {
    assert(detail.g0Before.nonEmpty)
    assert(detail.g0After.keySet === detail.g0Before.keySet,
      "a gen-0 file appeared or vanished during the increment")
    detail.g0Before.foreach { case (name, meta) =>
      assert(detail.g0After(name) === meta,
        s"gen-0 file $name changed (size, mtime) — history was rewritten")
    }
  }

  test("supersede lines resolve last-writer-wins; the raw bill is exact") {
    val r = rows.head
    val nSup = r.getAs[Long]("n_superseded")
    val nNew = r.getAs[Long]("n_new_lines")
    assert(nSup > 0L, "no boundary sequence superseded — the drill corner is vacuous")
    assert(nNew > 0L)
    // raw read-back = resolved + the superseded gen-0 stale lines
    assert(detail.rawLines === rows.length.toLong + nSup,
      "stale-line accounting drifted: raw lines ≠ resolved + superseded")
    // every key is unique after resolution, and a superseded key serves gen 1
    val byKey = rows.groupBy(r => (r.getAs[Long]("bin"), r.getAs[Long]("seq_id")))
    assert(byKey.values.forall(_.length == 1), "resolution left a duplicate key")
    assert(rows.count(_.getAs[Int]("gen") == 1).toLong === nSup + nNew)
  }

  test("new lines take positions strictly past their shard's gen-0 maximum") {
    // gen-0 resume offsets stay valid iff gen-1 NEW lines never collide
    // below the old maximum; supersedes deliberately reuse their old pos
    val g0MaxByShard = rows.filter(_.getAs[Int]("gen") == 0)
      .groupBy(_.getAs[Int]("shard"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("pos")).max }
    val gen1 = rows.filter(_.getAs[Int]("gen") == 1)
    val (sup, fresh) = gen1.partition { r =>
      g0MaxByShard.get(r.getAs[Int]("shard")).exists(_ >= r.getAs[Long]("pos"))
    }
    assert(fresh.nonEmpty)
    assert(sup.length.toLong <= rows.head.getAs[Long]("n_superseded"),
      "more low-position gen-1 lines than supersedes — a new line collided " +
        "below the gen-0 maximum")
  }

  test("the resolved view is the tail-append pack, docs included") {
    // every arrival doc serves exactly once; no doc vanished
    val served = rows.flatMap(_.getAs[String]("docs").split(",").map(_.toLong))
    assert(served.length === served.distinct.length, "a doc serves twice")
    val all = graft.Tables(spark, sf).documents
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served.toSet === all, "the resolved view lost or invented docs")
  }

  test("every .gN. generation resolves by its number; a tombstone hides the line below it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sinc_gens_").toString
    def land(g: Int, rows: (Int, Long, Long, Long, Long, String)*): Unit = {
      val f = TrainShardSink.lineOf(rows.toDF("shard", "pos", "bin", "seq_id", "n_tokens", "docs"))
      if (g == 0) TrainShardSink.write(f, root, 4)
      else TrainShardSink.writeLines(f, root, 4, TrainShardSink.genFile(g))
    }
    // key (0, 0) at g0, g1 and g3; key (1, 0) at g0 and g1, tombstoned at g2
    land(0, (0, 1L, 0L, 0L, 10L, "1"), (1, 1L, 1L, 0L, 10L, "2"))
    land(1, (0, 1L, 0L, 0L, 20L, "1,3"), (1, 1L, 1L, 0L, 20L, "2,4"))
    land(2, (1, 1L, 1L, 0L, 0L, ""))
    land(3, (0, 1L, 0L, 0L, 30L, "1,3,5"))
    val names = TrainShardSink.fileCensus(spark, root).keySet
    assert(names.toSeq.map(TrainShardSink.genOf).sorted === Seq(0, 0, 1, 1, 2, 3),
      "a .gN. file was censused as another generation")
    val back = TrainShardSink.readBack(spark, root)
    def key(r: org.apache.spark.sql.Row) = (r.getAs[Long]("bin"), r.getAs[Long]("seq_id"))
    val won = TrainShardSink.resolve(back).collect().map(r => key(r) -> r).toMap
    assert(won((0L, 0L)).getAs[Int]("gen") === 3 && won((0L, 0L)).getAs[String]("docs") === "1,3,5",
      "the g3 line must win over g0 and g1")
    assert(won((1L, 0L)).getAs[Int]("gen") === 2 && won((1L, 0L)).getAs[Long]("n_tokens") === 0L,
      "the g2 tombstone must win over g1")
    assert(TrainShardSink.resolve(back, dropTombstones = true).collect().map(key).toSet ===
      Set((0L, 0L)), "the tombstoned key still serves")
    graft.Fs.rmTree(java.nio.file.Paths.get(root))
  }
}
