package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of join (SURVEY §2 №79) — the stream twin of
  * [[graft.queries.Analytics.asofJoin]]: purchases match the same user's
  * latest at-or-before view as the stream flows, via
  * flatMapGroupsWithState. The state per user is ONE row (the latest view
  * seen), so state volume is O(active users) — independent of stream
  * length; a production deployment would add an event-time timeout to
  * evict users idle past the business horizon (the
  * [[StatefulSessionize.sessionizeIncremental]] pattern), which changes
  * nothing here because every user stays live for the whole replay.
  *
  * Ordering contract (same as batch): a view in the SAME millisecond as a
  * purchase is visible to it; among equal-ts views the highest event_id
  * wins. Within a trigger the group's rows are buffered and sorted by
  * (ts_ms, side, event_id); across triggers the contract holds as long as
  * the feed is non-decreasing in that key — true for the ts-ordered
  * replay chunks here and for any per-key-ordered production source.
  */
object StreamAsof {

  final case class TEv(user_id: Long, ts_ms: Long, event_id: Long, is_probe: Boolean)
  /** Latest build row per user — the entire per-user state. */
  final case class LatestView(ts_ms: Long, event_id: Long)
  final case class AsofMatch(event_id: Long, user_id: Long, purchase_ms: Long,
                             view_event_id: Option[Long], view_ms: Option[Long])

  def asof(events: Dataset[TEv]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestView, AsofMatch](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, evs, state: GroupState[LatestView]) =>
          var latest = state.getOption
          val out = List.newBuilder[AsofMatch]
          // trigger-local sort: views before purchases at equal ts (side
          // 0 < 1), then event_id — the batch window's exact order
          evs.toSeq.sortBy(e => (e.ts_ms, if (e.is_probe) 1 else 0, e.event_id)).foreach { e =>
            if (e.is_probe)
              out += AsofMatch(e.event_id, uid, e.ts_ms,
                latest.map(_.event_id), latest.map(_.ts_ms))
            else latest = Some(LatestView(e.ts_ms, e.event_id))
          }
          latest.foreach(state.update)
          out.result().iterator
      }
  }

  /** Driver-verified replay (the [[StreamDedup.streamDedup]] harness
    * shape): collect view+purchase events, feed them in (ts_ms, side,
    * event_id) order as several micro-batches through a MemoryStream into
    * [[asof]] (RocksDB state), and present the matches in the batch
    * query's schema — stream ≡ batch, same oracle
    * ([[graft.queries.Analytics.asofJoinSql]]). */
  def streamAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = graft.Tables(spark, dir).events
      .filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"ts_ms", $"event_id", ($"event_type" === "purchase").as("is_probe"))
      .as[TEv].collect()
      .sortBy(t => (t.ts_ms, if (t.is_probe) 1 else 0, t.event_id))
    val name = s"stream_asof_${System.nanoTime()}"
    // state partitions sized to state volume (the ReplayHarness width)
    val out = ReplayHarness.replay(spark, 8) { (spark, register) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[TEv]
      val q = asof(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      register(q)
      e.grouped(math.max(1, e.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      spark.table(name)
        .select($"event_id", $"user_id", $"purchase_ms", $"view_event_id", $"view_ms",
          ($"purchase_ms" - $"view_ms").as("gap_ms"))
        .orderBy($"event_id")
        .collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("purchase_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("view_event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("view_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("gap_ms", org.apache.spark.sql.types.LongType))))
  }

  /** Same oracle as the batch as-of — the claim IS stream ≡ batch. */
  val streamAsofSql: String = graft.queries.Analytics.asofJoinSql
}
