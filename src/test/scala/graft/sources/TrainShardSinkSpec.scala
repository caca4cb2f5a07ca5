package graft.sources

import graft.SparkSpec
import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

/** №68 training-shard sink: physical layout + round trip. */
class TrainShardSinkSpec extends SparkSpec {

  test("shard files hold the full corpus in consumption order") {
    val out = TrainShardSink.shardQuery(spark, sf).collect()
    val packed = PipelineQueries.sequencePack(spark, sf).count()
    assert(out.length == packed, "one shard line per packed sequence")
    // the sink's physical guarantee: within each shard FILE the lines are
    // stored in pos order (a loader streams the file sequentially)
    val files = new java.io.File(s"${TrainShardSink.rootOf(sf)}/shards").listFiles().filter(_.getName.endsWith(".gz"))
    assert(files.nonEmpty && files.length <= PipelineQueries.NShards)
    files.foreach { f =>
      val text = new String(GzipSnapshotCodec.decompress(new java.io.FileInputStream(f)).readAllBytes(), "UTF-8")
      val ps = text.split("\n").filter(_.nonEmpty).map(_.split("\\|")(1).toLong).toSeq
      assert(ps == ps.sorted, s"${f.getName}: lines not in pos order")
      assert(ps == (1L to ps.length), s"${f.getName}: positions not contiguous from 1")
    }
  }

  test("shard lines re-parse to the shuffle frame joined with the manifest") {
    val parsed = TrainShardSink.shardQuery(spark, sf)
      .select(col("shard"), col("pos"), col("bin"), col("seq_id"), col("n_tokens"))
    val expect = PipelineQueries.sequenceShuffle(spark, sf)
    assert(parsed.exceptAll(expect).count() == 0 && expect.exceptAll(parsed).count() == 0,
      "read-back diverges from the shuffle frame")
  }
}
