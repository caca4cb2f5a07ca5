package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state: gap-based sessionization via
  * flatMapGroupsWithState (SURVEY §2 №36's stateful form), in two tiers:
  *
  *  - [[sessionize]] — the minimal demo: per-trigger sort, closed sessions
  *    emitted when a later event passes the gap, open session held forever
  *    (no timeout). Fine for bounded demos, NOT for production: idle users
  *    pin state, and a trigger's events are buffered+sorted per group.
  *
  *  - [[sessionizeIncremental]] — the production shape: state is a sorted
  *    list of disjoint gap-separated intervals per user, each event merges
  *    INCREMENTALLY (no per-trigger buffer/sort — order-independent by
  *    construction: gap-connectivity is the same partition whatever the
  *    arrival order), and an EVENT-TIME TIMEOUT flushes sessions once the
  *    watermark passes their close horizon — state per user is bounded by
  *    the watermark window, and idle users are evicted by the state store,
  *    not by luck. Memory per user = O(open intervals), never O(batch).
  */
object StatefulSessionize {

  final case class Ev(user_id: Long, ts_ms: Long)
  final case class EvT(user_id: Long, ts_ms: Long, ts_utc: java.sql.Timestamp)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)
  final case class SessState(start: Long, end: Long, n: Long)
  /** Disjoint intervals sorted by start; (start, end, n_events). */
  final case class IntervalState(intervals: List[(Long, Long, Long)])

  def sessionize(events: Dataset[Ev], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, evs, state) =>
          var closed = List.empty[Session]
          var st = state.getOption
          evs.toSeq.sortBy(e => (e.ts_ms, 0L)).foreach { e =>
            st = st match {
              case Some(s) if e.ts_ms - s.end > gapMs =>
                closed ::= Session(uid, s.start, s.end, s.n)
                Some(SessState(e.ts_ms, e.ts_ms, 1))
              case Some(s) =>
                Some(SessState(s.start, math.max(s.end, e.ts_ms), s.n + 1))
              case None =>
                Some(SessState(e.ts_ms, e.ts_ms, 1))
            }
          }
          st.foreach(state.update)
          closed.reverse.iterator
      }
  }

  /** Insert an event into the sorted disjoint interval list, merging any
    * neighbours now within `gapMs`. O(k) for k open intervals (k is
    * bounded by the watermark horizon / gap). */
  private[graft] def merge(intervals: List[(Long, Long, Long)], ts: Long,
                               gapMs: Long): List[(Long, Long, Long)] = {
    val (before, rest) = intervals.span(_._2 < ts - gapMs) // strictly left of reach
    val (touching, after) = rest.span(_._1 <= ts + gapMs)  // reachable from ts
    val start = (ts :: touching.map(_._1)).min
    val end = (ts :: touching.map(_._2)).max
    val n = 1L + touching.map(_._3).sum
    before ::: ((start, end, n) :: after)
  }

  /** Production sessionization: incremental merge + event-time timeout.
    *
    * @param delay watermark delay expression, e.g. "10 seconds" — late
    *              events beyond it are dropped by the engine, which is what
    *              makes closing `end + gap < watermark` intervals safe.
    */
  def sessionizeIncremental(events: Dataset[Ev], gapMs: Long,
                            delay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      .as[EvT]
      .withWatermark("ts_utc", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IntervalState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, evs, state: GroupState[IntervalState]) =>
          var iv = state.getOption.map(_.intervals).getOrElse(Nil)
          if (!state.hasTimedOut) evs.foreach(e => iv = merge(iv, e.ts_ms, gapMs))
          val wm = state.getCurrentWatermarkMs()
          // an interval with end + gap < watermark can never be extended
          // again (later events are ≥ wm by the watermark contract) → close
          val (closed, open) = iv.partition(i => i._2 + gapMs < wm)
          if (open.nonEmpty) {
            state.update(IntervalState(open))
            // wake when the OLDEST open interval becomes closable
            state.setTimeoutTimestamp(math.max(open.map(_._2).min + gapMs, wm + 1))
          } else {
            state.remove()
          }
          closed.sortBy(_._1).map(i => Session(uid, i._1, i._2, i._3)).iterator
      }
  }

  /** Driver-verified form of [[sessionizeIncremental]]: replay the whole
    * `events` table through a MemoryStream in several watermarked
    * micro-batches, run the production operator (incremental interval merge
    * + event-time timeout, RocksDB state store), and number the flushed
    * sessions so the output is comparable row-for-row with the BATCH
    * sessionization oracle ([[graft.queries.Analytics.sessionizeSql]]) —
    * stream ≡ batch, checked by the driver's DuckDB gate.
    *
    * The MemoryStream feed (a driver-side collect of the events table) is
    * verification scaffolding only — it exists because a file stream can't
    * replay one file as multiple ordered micro-batches. The OPERATOR under
    * test is fully distributed; production ingestion is `readStream` as in
    * [[StreamExport]]. Events are fed in ts order, so with chunks cut at ts
    * boundaries nothing is ever behind the watermark (no silent drops to
    * fake a pass); a final far-future sentinel (user −1, filtered out)
    * advances the watermark so EVERY real session flushes via the same
    * event-time-timeout path production uses.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    val gapMs = graft.queries.Analytics.SessionGapMs
    val delay = "30 minutes"
    val evs = graft.Tables(spark, dir).events
      .select($"user_id", $"ts_ms").as[Ev].orderBy($"ts_ms").collect()
    val name = s"stream_sessions_${System.nanoTime()}"
    // production state store for the verified run; state partitions sized
    // to STATE VOLUME, not cores: each state partition opens its own
    // RocksDB instance per micro-batch, and at proof-size state that
    // per-instance overhead dominates (32 partitions x ~7 batches was
    // ~1.5x slower than 8). Production sizes this at checkpoint creation
    // against expected keys/executor. ReplayHarness sets the width.
    val out = ReplayHarness.replay(spark, 8) { (spark, register) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Ev]
      val q = sessionizeIncremental(input.toDS(), gapMs, delay)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      register(q)
      if (evs.nonEmpty) {
        // 4 contiguous ts-ordered chunks → separate micro-batches, watermark
        // advancing between them (mid-stream sessions close by TIMEOUT here,
        // not at end-of-input — the production path is what's exercised)
        evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        // sentinel beyond every closable horizon: wm passes max(end)+gap
        input.addData(Ev(-1L, evs.last.ts_ms + gapMs + 3600000L))
        q.processAllAvailable()
      }
      // MATERIALIZE, then drop the memory sink: a lazily-returned
      // spark.table(name) would pin the sink's rows (and one more table
      // per call) in driver memory for the application's lifetime
      spark.table(name).filter($"user_id" >= 0)
        .withColumn("session_id",
          row_number().over(Window.partitionBy($"user_id").orderBy($"start_ms")).cast("long"))
        .select($"user_id", $"session_id", $"n_events", $"start_ms", $"end_ms",
          ($"end_ms" - $"start_ms").as("duration_ms"))
        .orderBy($"user_id", $"session_id")
        .collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("session_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("start_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("end_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_ms", org.apache.spark.sql.types.LongType))))
  }

  /** Same oracle as batch sessionize — the claim IS stream ≡ batch. */
  val streamSessionizeSql: String = graft.queries.Analytics.sessionizeSql

  /** The BUILT-IN counterpart of [[streamSessionize]] (SURVEY §2 №65):
    * Spark's native `session_window` aggregation under the same replay
    * harness — the Spark-first path when merge semantics need no custom
    * state. Proves builtin ≡ custom-state ≡ batch on the same corpus
    * (all three share [[graft.queries.Analytics.sessionizeSql]] as the
    * oracle). Boundary convention ALIGNED, not assumed: session_window
    * merges events STRICTLY within its gap while the batch form keeps
    * same-session at exactly the gap (`ts - prev > gap` starts a new
    * one). Timestamps are integer milliseconds, so running the builtin
    * with gap+1ms makes "strictly within gap+1" ≡ "within-or-equal gap" —
    * the two conventions coincide for EVERY possible corpus, no
    * at-the-boundary vacuity to police. Same scale contract: state
    * hash-partitioned on user_id, windows evicted as the watermark
    * passes, RocksDB provider. */
  def streamSessionBuiltin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    val gapMs = graft.queries.Analytics.SessionGapMs
    val evs = graft.Tables(spark, dir).events
      .select($"user_id", $"ts_ms").as[Ev].orderBy($"ts_ms").collect()
    val name = s"stream_sessions_bi_${System.nanoTime()}"
    val out = ReplayHarness.replay(spark, 8) { (spark, register) =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Ev]
      val q = input.toDS()
        .withColumn("ts_utc", timestamp_millis($"ts_ms"))
        .withWatermark("ts_utc", "30 minutes")
        // gap+1ms: integer-ms events exactly gapMs apart MERGE, matching
        // the batch `> gapMs` new-session rule (see scaladoc)
        .groupBy($"user_id", session_window($"ts_utc", s"${gapMs + 1} milliseconds"))
        .agg(count(lit(1)).as("n_events"),
          min($"ts_ms").as("start_ms"), max($"ts_ms").as("end_ms"))
        .select($"user_id", $"n_events", $"start_ms", $"end_ms")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      register(q)
      if (evs.nonEmpty) {
        evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
        // far-future sentinel (filtered below) pushes the watermark past
        // every real window's end so append mode emits them all
        input.addData(Ev(-1L, evs.last.ts_ms + gapMs + 3600000L))
        q.processAllAvailable()
      }
      spark.table(name).filter($"user_id" >= 0)
        .withColumn("session_id",
          row_number().over(Window.partitionBy($"user_id").orderBy($"start_ms")).cast("long"))
        .select($"user_id", $"session_id", $"n_events", $"start_ms", $"end_ms",
          ($"end_ms" - $"start_ms").as("duration_ms"))
        .orderBy($"user_id", $"session_id")
        .collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("session_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("start_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("end_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("duration_ms", org.apache.spark.sql.types.LongType))))
  }

  val streamSessionBuiltinSql: String = graft.queries.Analytics.sessionizeSql
}
