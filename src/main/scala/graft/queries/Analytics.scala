package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Analytics / bench-head queries (SURVEY §2 №33-35).
  *
  * Cross-engine determinism rules (see SURVEY §5): every monetary aggregate is
  * rounded to its exact decimal grid per-row and summed as DECIMAL (exact,
  * associative — safe under any partial-aggregation order), then cast to
  * DOUBLE for output. Averages divide exact sums by counts in double and are
  * rounded. Output never contains raw timestamps — only formatted strings.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary. Single hash aggregation, partial
    * (map-side) combine, grouping cardinality 6 — at 100 TB this is a scan
    * bound job: filter + projection push to parquet, one narrow shuffle of
    * 6xN_partitions pre-aggregated rows.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity".cast("decimal(20,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(20,2)")).cast("double").as("sum_base_price"),
        sum(round($"l_extendedprice" * (lit(1) - $"l_discount"), 4).cast("decimal(24,4)")).cast("double").as("sum_disc_price"),
        sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax"), 6).cast("decimal(28,6)")).cast("double").as("sum_charge"),
        round(sum($"l_quantity".cast("decimal(20,2)")).cast("double") / count(lit(1)) + 1e-9, 6).as("avg_qty"),
        round(sum($"l_extendedprice".cast("decimal(20,2)")).cast("double") / count(lit(1)) + 1e-9, 6).as("avg_price"),
        round(sum($"l_discount".cast("decimal(20,2)")).cast("double") / count(lit(1)) + 1e-9, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount),4) AS DECIMAL(24,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax),6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)/count(*) + 0.000000001, 6) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)/count(*) + 0.000000001, 6) AS avg_price,
      |  round(CAST(sum(CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE)/count(*) + 0.000000001, 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping priority. The dimension (filtered customer) is
    * tiny relative to the facts — explicitly broadcast so the big sides never
    * shuffle for it; orders⋈lineitem shuffles on orderkey once. Top-N via
    * exact-decimal revenue with orderkey tiebreak (fully deterministic).
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val cust = t.customer.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = t.orders.filter($"o_orderdate" < lit("1999-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = t.lineitem.filter($"l_shipdate" > lit("1999-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val custOrders = ord.join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"o_orderdate")
    li.join(custOrders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount"), 4).cast("decimal(24,4)")).as("rev"))
      .select($"l_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
        $"rev".cast("double").as("revenue"))
      .orderBy($"rev".desc, $"l_orderkey")
      .limit(10)
  }

  /** Event sessionization (SURVEY §2 №35, batch form): 30-min-gap sessions
    * via lag + running sum, ONE window pass partitioned by user (shuffle on
    * user_id only; per-user ordering by (ts, event_id) is fully
    * deterministic under timestamp ties).
    */
  /** Per-EVENT session assignment — the fragment behind [[sessionize]]
    * and [[sessionFunnel]]: every event row tagged with its 30-min-gap
    * session_id (one window pass, shuffle on user_id only). */
  /** 30-min session gap, shared by the Spark fragment and every oracle. */
  val SessionGapMs = 1800000L

  /** Shared session-assignment CTE chain (`e` → `flagged` → `sess`,
    * ending in `sess(user_id, event_id, event_type, ts_ms, k,
    * session_id)`) — the SQL twin of [[sessionAssigned]]. All session
    * oracles (№35/84/95) compose THIS text, so the session definition
    * (gap, ordering tiebreak) can never de-sync between them. */
  private[queries] val sessionCtesSql: String =
    s"""e AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, event_type, ts_ms,
       |    CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, event_type, ts_ms,
       |    row(ts_ms, event_id) AS k,
       |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)""".stripMargin

  private[queries] def sessionAssigned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gapMs = SessionGapMs
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    Tables(spark, dir).events
      .withColumn("prev_ms", lag($"ts_ms", 1).over(wOrd))
      .withColumn("new_sess", when($"prev_ms".isNull || $"ts_ms" - $"prev_ms" > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"session_id", $"event_id", $"event_type", $"ts_ms")
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionAssigned(spark, dir)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"ts_ms").as("start_ms"), max($"ts_ms").as("end_ms"))
      .withColumn("duration_ms", $"end_ms" - $"start_ms")
      .orderBy($"user_id", $"session_id")
  }

  val sessionizeSql: String =
    s"""WITH $sessionCtesSql
       |SELECT user_id, session_id, count(*) AS n_events, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       |  max(ts_ms) - min(ts_ms) AS duration_ms
       |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- №149 session_paths
  /** Top SESSION PATHS — the behavioral-flow mining table (which
    * event-type sequences do sessions actually follow — the input to
    * funnel design and UX anomaly review): each №35 session becomes its
    * ordered event-type path string (the sorted-struct-transform ≡
    * ordered string_agg equivalence №63 proved), paths count per distinct
    * sequence with an exact integer share (ppm of all sessions), top
    * [[PathK]] by (count DESC, path).
    *
    * Scale shape: the №35 session window (one user-keyed shuffle + sort)
    * feeds a per-session aggregation; the path rollup keys on the path
    * string (cardinality ≤ sessions, in practice the head is tiny); the
    * single-row session total is the only broadcast; final ranking is
    * orderBy+limit → TakeOrderedAndProject (per-partition heaps, never a
    * global sort). */
  val PathK = 20

  /** share_ppm runs in DECIMAL(38,0)/HUGEINT (r11 audit): a single
    * dominant path can carry ~all sessions, and sessions·10⁶ exits
    * BIGINT past 9.2·10¹² sessions — reachable at 100 TB of events. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val paths = graft.CacheRegistry.track(sessionAssigned(spark, dir)
      .groupBy($"user_id", $"session_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"ts_ms", $"event_id", $"event_type"))),
        e => e.getField("event_type")), ">").as("path"))
      .persist())
    paths.groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(paths.agg(count(lit(1)).as("n_total"))))
      .select($"path", $"n_sessions",
        expr("CAST(n_sessions AS DECIMAL(38,0)) * 1000000 DIV n_total").as("share_ppm"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(PathK)
  }

  val sessionPathsSql: String =
    s"""WITH $sessionCtesSql,
       |sp_p AS (
       |  SELECT user_id, session_id,
       |    string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
       |  FROM sess GROUP BY user_id, session_id),
       |sp_t AS (SELECT count(*) AS n_total FROM sp_p),
       |sp_g AS (SELECT path, count(*) AS n_sessions FROM sp_p GROUP BY path)
       |SELECT path, n_sessions, CAST(CAST(n_sessions AS HUGEINT) * 1000000 // n_total AS BIGINT) AS share_ppm
       |FROM sp_g CROSS JOIN sp_t
       |ORDER BY n_sessions DESC, path LIMIT $PathK""".stripMargin

  /** The presentation sort of a CORPUS-CARDINALITY output. Several rows
    * end in a global `orderBy` that exists ONLY so the driver's row-hash
    * compare is deterministic — semantically the result is a row SET. On
    * bounded outputs that sort is free; on per-user rollups
    * ([[userHistory]], [[saltedJoin]]) it is a needless range exchange +
    * full sort at 100 TB. Production passes `sorted = false` and gets the
    * identical row set with the range exchange gone (plan-pinned in
    * PlanRegressionSpec); the driver rows keep the default and its
    * deterministic hashing. */
  private def presentationSort(sorted: Boolean, cols: Column*)(df: DataFrame): DataFrame =
    if (sorted) df.orderBy(cols: _*) else df

  // ---------------------------------------------------------------- №126 user_history
  /** Per-user CHRONOLOGICAL event-history strings truncated to the most
    * recent [[HistK]] events — the "user behavior sequence" a sequential
    * recommender / user-LM trains on (the events-side twin of №63's
    * ordered-manifest discipline): long histories keep only the tail,
    * short ones keep everything, and the order is strictly deterministic
    * ((ts_ms, event_id) — №35's session tiebreak).
    *
    * Scale shape: ONE hash shuffle on user_id and one window pass; the
    * truncation row_number sorts each USER's events only (parallel across
    * users — never a global sort), the full-history n_events rides the
    * SAME window pass as an unordered count (no second corpus scan), and
    * everything past the rn ≤ K filter is workload-bounded (≤ K rows per
    * user). The history string is the sorted-struct-transform ≡ ordered
    * string_agg cross-engine equivalence №63 proved. */
  val HistK = 8

  def userHistory(spark: SparkSession, dir: String, sorted: Boolean = true): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
    val wOrd = w.orderBy($"ts_ms".desc, $"event_id".desc)
    Tables(spark, dir).events
      .select($"user_id", $"event_id", $"event_type", $"ts_ms")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_events", count(lit(1)).over(w))
      .filter($"rn" <= HistK)
      .groupBy($"user_id")
      .agg(
        max($"n_events").as("n_events"),
        count(lit(1)).as("n_recent"),
        // rn DESC = chronological: sort by rn asc (most-recent first), reverse
        array_join(reverse(transform(
          array_sort(collect_list(struct($"rn", $"event_type"))),
          e => e.getField("event_type"))), ",").as("history"),
        max($"ts_ms").as("last_ms"))
      .transform(presentationSort(sorted, $"user_id"))
  }

  val userHistorySql: String =
    s"""WITH uh_e AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
       |uh_r AS (
       |  SELECT user_id, event_type, ts_ms,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
       |  FROM uh_e)
       |SELECT user_id, max(n_events) AS n_events, count(*) AS n_recent,
       |  string_agg(event_type, ',' ORDER BY rn DESC) AS history,
       |  max(ts_ms) AS last_ms
       |FROM uh_r WHERE rn <= $HistK
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** №51 grouped_topk — the GroupedTopK whole-operator extension driven
    * directly (logical node → pruning rule → strategy → two-phase exec,
    * graft.plans.GroupedTopK): top-10 orders by price within each order
    * priority. The custom plan's scale shape vs the window-function
    * formulation the oracle uses: per-partition bounded heaps emit ≤k rows
    * per (group, partition) into ONE hash exchange on the group — a
    * row_number window would shuffle and sort EVERY order row. Plan-pinned
    * (PlanRegressionSpec asserts GroupedTopKPartial/Final nodes). */
  def groupedTopK(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    graft.plans.GroupedTopK.rankedTopK(ord, "o_orderpriority", "o_totalprice", "o_orderkey", 10)
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  /** row_number QUALIFY oracle; rank CAST to INTEGER to match the exec's
    * IntegerType rank (the driver hash is type-sensitive). */
  val groupedTopKSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
      |  FROM orders)
      |SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM r
      |WHERE rank <= 10 ORDER BY o_orderpriority, rank""".stripMargin

  // ---------------------------------------------------------------- №84 session_funnel
  /** Ordered conversion funnel per session — the event-analytics step
    * after sessionization: how deep into view → click → purchase does
    * each session get, with STRICT ordering (the click must follow the
    * session's first view; the purchase must follow that click). Events
    * order by the LEXICOGRAPHIC (ts_ms, event_id) struct — both engines
    * compare and min() structs field-by-field, so ordering is exact,
    * deterministic under same-ms ties, and free of the overflow a
    * packed integer key would hit once event_id outgrows its slot.
    *
    * Scale shape: ONE session-assignment window pass (shared fragment
    * with №35), persisted; the three stage aggregations are bounded
    * per-session min-reductions with map-side partials, each joined back
    * session-co-partitioned — shuffle keys are (user, session)
    * throughout, so AQE reuses the partitioning; no corpus-wide sort. */
  def sessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.CacheRegistry.track(sessionAssigned(spark, dir)
      .withColumn("k", struct($"ts_ms", $"event_id"))
      .persist())
    val sk = Seq("user_id", "session_id")
    val v = ev.filter($"event_type" === "view")
      .groupBy(sk.map(col): _*).agg(min($"k").as("vk"))
    val c = ev.filter($"event_type" === "click").join(v, sk)
      .filter($"k" > $"vk").groupBy(sk.map(col): _*).agg(min($"k").as("ck"))
    val p = ev.filter($"event_type" === "purchase").join(c, sk)
      .filter($"k" > $"ck").groupBy(sk.map(col): _*).agg(min($"k").as("pk"))
    ev.groupBy(sk.map(col): _*).agg(count(lit(1)).as("n_events"))
      .join(v, sk, "left").join(c, sk, "left").join(p, sk, "left")
      .select($"user_id", $"session_id", $"n_events",
        when($"pk".isNotNull, 3).when($"ck".isNotNull, 2)
          .when($"vk".isNotNull, 1).otherwise(0).cast("int").as("depth"))
      .orderBy($"user_id", $"session_id")
  }

  val sessionFunnelSql: String =
    s"""WITH $sessionCtesSql,
      |v AS (SELECT user_id, session_id, min(k) AS vk FROM sess WHERE event_type = 'view' GROUP BY 1, 2),
      |c AS (SELECT s.user_id, s.session_id, min(s.k) AS ck
      |      FROM sess s JOIN v USING (user_id, session_id)
      |      WHERE s.event_type = 'click' AND s.k > v.vk GROUP BY 1, 2),
      |p AS (SELECT s.user_id, s.session_id, min(s.k) AS pk
      |      FROM sess s JOIN c USING (user_id, session_id)
      |      WHERE s.event_type = 'purchase' AND s.k > c.ck GROUP BY 1, 2),
      |n AS (SELECT user_id, session_id, count(*) AS n_events FROM sess GROUP BY 1, 2)
      |SELECT n.user_id, n.session_id, n.n_events,
      |  CAST(CASE WHEN p.pk IS NOT NULL THEN 3 WHEN c.ck IS NOT NULL THEN 2
      |       WHEN v.vk IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS depth
      |FROM n
      |LEFT JOIN v USING (user_id, session_id)
      |LEFT JOIN c USING (user_id, session_id)
      |LEFT JOIN p USING (user_id, session_id)
      |ORDER BY n.user_id, n.session_id""".stripMargin

  // ---------------------------------------------------------------- №95 event_transitions
  /** Within-session event-type transition edges — the "path / flow
    * analysis" table (which step follows which, where do sessions leak):
    * for every consecutive same-session event pair, the (from, to) type
    * edge with its count and share of all transitions in EXACT integer
    * ppm (`n·10⁶ DIV total`, the source_drift discipline). This is the
    * first-order Markov model of user behavior a product pipeline feeds
    * into funnel design; the output is type²-bounded however large the
    * corpus.
    *
    * Scale shape: reuses the №35 session-assignment fragment, and the
    * lag runs over the SAME (user ordered by ts, event_id) window — the
    * session boundary is enforced by comparing the lagged session_id,
    * not by re-partitioning per session, so the single user-keyed
    * exchange+sort of the fragment serves both windows. One bounded
    * (from, to) hash agg + a single-row total broadcast after that. */
  /** share_ppm runs in DECIMAL(38,0)/HUGEINT (r11 audit): one dominant
    * (from, to) transition can carry ~half of all events, and
    * n_trans·10⁶ exits BIGINT past 9.2·10¹² — reachable at 100 TB. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wUser = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    val edges = sessionAssigned(spark, dir)
      .withColumn("prev_type", lag($"event_type", 1).over(wUser))
      .withColumn("prev_sess", lag($"session_id", 1).over(wUser))
      .filter($"prev_sess" === $"session_id")
      .groupBy($"prev_type", $"event_type").agg(count(lit(1)).as("n_trans"))
    val total = edges.agg(sum($"n_trans").as("t"))
    edges.crossJoin(broadcast(total))
      .select($"prev_type".as("from_type"), $"event_type".as("to_type"), $"n_trans",
        expr("CAST(n_trans AS DECIMAL(38,0)) * 1000000 DIV t").as("share_ppm"))
      .orderBy($"from_type", $"to_type")
  }

  val eventTransitionsSql: String =
    s"""WITH $sessionCtesSql,
      |tr AS (
      |  SELECT lag(event_type) OVER w AS from_type,
      |    lag(session_id) OVER w AS prev_sess, event_type, session_id
      |  FROM sess WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |edges AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n_trans
      |  FROM tr WHERE prev_sess = session_id GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n_trans) AS BIGINT) AS t FROM edges)
      |SELECT from_type, to_type, n_trans, CAST(CAST(n_trans AS HUGEINT) * 1000000 // t AS BIGINT) AS share_ppm
      |FROM edges CROSS JOIN tot ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- №85 retention_cohort
  /** Weekly cohort retention — the classic product-analytics matrix over
    * the events stream: users cohort by their FIRST-event week (integer
    * weeks since the 2024-01-01 epoch, exact `DIV` arithmetic), and each
    * (cohort, week-offset) cell counts the cohort's users active that
    * week. Cells where offset = 0 equal the cohort size by construction
    * (a user is active in their first week), giving the matrix its
    * denominator column; rate = 6dp-rounded cell/cohort.
    *
    * Scale shape (r10 rewrite): ONE user-keyed hash agg builds the whole
    * per-user state — `collect_set(week)` with map-side partials (weeks
    * are a CALENDAR dimension, so the per-user set is bounded by the
    * corpus timespan in weeks, not by activity volume) — and the cohort
    * week is `array_min` of that set, so the old distinct + cohort-agg +
    * user-keyed join-back (three extra shuffles) all collapse into the
    * one aggregation. Cells then explode the bounded arrays and count on
    * the bounded (cohort_week, offset) key — `count`, not
    * `countDistinct`: the set guarantees one row per (user, offset), so
    * the expensive distinct expand is provably unnecessary. The final
    * cells ⋈ sizes join is calendar-bounded on both sides (AQE
    * broadcasts it). */
  /** (user_id, week) activity frame — weeks since the 2024-01-01 epoch,
    * exact integer DIV. Shared by [[retentionCohort]] / [[eventsPipeline]]. */
  private[queries] def weeklyActive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .select($"user_id", expr("(ts_ms - 1704067200000) DIV 604800000").as("week"))
      .distinct()
  }

  def retentionCohort(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one user-keyed agg carries everything: week set (bounded by the
    // calendar) + cohort week derived from it; feeds two bounded consumers
    val perUser = graft.CacheRegistry.track(Tables(spark, dir).events
      .select($"user_id", expr("(ts_ms - 1704067200000) DIV 604800000").as("week"))
      .groupBy($"user_id").agg(collect_set($"week").as("weeks"))
      .select($"user_id", array_min($"weeks").as("cohort_week"), $"weeks")
      .persist())
    val cells = perUser
      .select($"cohort_week", explode($"weeks").as("week"))
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("offset"))
      .agg(count(lit(1)).as("n_active")) // set semantics: one row per (user, offset)
    val sizes = perUser.groupBy($"cohort_week").agg(count(lit(1)).as("cohort_size"))
    cells.join(sizes, "cohort_week")
      .select($"cohort_week", $"offset", $"n_active", $"cohort_size",
        round($"n_active".cast("double") / $"cohort_size" + 1e-9, 6).as("rate"))
      .orderBy($"cohort_week", $"offset")
  }

  val retentionCohortSql: String =
    """WITH e AS (
      |  SELECT user_id, (epoch_ms(ts) - 1704067200000) // 604800000 AS week FROM events),
      |active AS (SELECT DISTINCT user_id, week FROM e),
      |cohorts AS (SELECT user_id, min(week) AS cohort_week FROM active GROUP BY user_id),
      |cells AS (
      |  SELECT c.cohort_week, a.week - c.cohort_week AS offset,
      |    count(DISTINCT a.user_id) AS n_active
      |  FROM active a JOIN cohorts c USING (user_id)
      |  GROUP BY 1, 2),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY 1)
      |SELECT cells.cohort_week, cells.offset, cells.n_active, sizes.cohort_size,
      |  round(CAST(cells.n_active AS DOUBLE) / sizes.cohort_size + 0.000000001, 6) AS rate
      |FROM cells JOIN sizes USING (cohort_week)
      |ORDER BY cells.cohort_week, cells.offset""".stripMargin

  // ---------------------------------------------------------------- №75 asof_join
  /** As-of join — the time-series operator Spark has no native form of
    * (DuckDB/kdb/Flink all ship one): for each `purchase` event, the same
    * user's LATEST `view` event at-or-before it (last-touch attribution).
    *
    * Spark-first shape — the MERGE formulation, not per-probe lookup:
    * union both sides with a side tag, ONE shuffle on user_id, one
    * window sort by (ts_ms, side, event_id), and a running
    * `last(..., ignoreNulls)` carries the latest build row forward into
    * every probe row. Cost at 100 TB: exactly one exchange + sort over
    * probe+build (the sessionize shape) — never the per-key all-pairs
    * join a correlated-subquery formulation implies, and no state beyond
    * the sort. Ties: a view in the SAME millisecond as the purchase
    * sorts first (side 0 < 1) and is therefore visible, matching ASOF's
    * `<=`; among equal-ts views the highest event_id wins — fully
    * deterministic. Purchases with no prior view keep null view columns
    * (left as-of).
    */
  /** Composable as-of core over (user_id, ts_ms, event_id) frames: each
    * probe row gains the latest build row (max (ts_ms, event_id)) with
    * build.ts_ms <= probe.ts_ms for the same user_id, as
    * (view_event_id, view_ms) — null when no build row qualifies. */
  private[queries] def asofCore(build: DataFrame, probe: DataFrame): DataFrame = {
    val spark = build.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tagged = build
      .select($"user_id", $"ts_ms", $"event_id", lit(0).as("side"))
      .unionByName(probe.select($"user_id", $"ts_ms", $"event_id", lit(1).as("side")))
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"side", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("view_event_id", last(when($"side" === 0, $"event_id"), ignoreNulls = true).over(w))
      .withColumn("view_ms", last(when($"side" === 0, $"ts_ms"), ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .drop("side")
  }

  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"event_type", $"ts_ms")
    asofCore(
      e.filter($"event_type" === "view").select($"user_id", $"ts_ms", $"event_id"),
      e.filter($"event_type" === "purchase").select($"user_id", $"ts_ms", $"event_id"))
      .select($"event_id", $"user_id", $"ts_ms".as("purchase_ms"),
        $"view_event_id", $"view_ms", ($"ts_ms" - $"view_ms").as("gap_ms"))
      .orderBy($"event_id")
  }

  /** Independent oracle formulation: per-probe arg-max over an inequality
    * join (fine at oracle SF; the Spark impl above is the scalable shape). */
  val asofJoinSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT * FROM e WHERE event_type = 'view'),
      |j AS (
      |  SELECT p.event_id, p.user_id, p.ts_ms AS purchase_ms,
      |    v.event_id AS view_event_id, v.ts_ms AS view_ms,
      |    row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts_ms DESC, v.event_id DESC) AS rn
      |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts_ms <= p.ts_ms)
      |SELECT event_id, user_id, purchase_ms, view_event_id, view_ms,
      |  purchase_ms - view_ms AS gap_ms
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- №76 range_join
  /** Interval (range) join via time-axis BINNING — the 100 TB lever for a
    * join whose only predicate is a range: campaign windows [start_ms,
    * end_ms] (overlapping, closed-form in both engines) joined to the
    * events they contain, aggregated per campaign.
    *
    * A pure inequality join gives Spark no equi-key, so Catalyst plans a
    * nested-loop join — broadcastable only while one side stays small,
    * quadratic the moment both sides are corpus-scale. Binning converts
    * it: each interval EXPLODES into the 6h bins it overlaps (bounded:
    * ≤ dur/bin+1 rows), each event maps to exactly ONE bin, and the join
    * becomes an equi-join on bin + residual BETWEEN filter — hash/SMJ
    * shuffles both sides by bin, no nested loop anywhere (plan-pinned in
    * the spec with broadcast disabled). Because an event lives in one
    * bin, a (campaign, event) pair meets at most once: no post-join
    * dedup. Campaigns with no events LEFT-join back in (zero counts).
    */
  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val binMs = 21600000L // 6h — sized so an interval explodes into ≤ 6 bins
    val campaigns = spark.range(40).select(
      $"id".as("campaign_id"),
      (lit(1704067200000L) + $"id" * 57600000L).as("start_ms"))
      .withColumn("end_ms", $"start_ms" + lit(21600000L) + ($"campaign_id" % 8) * 10800000L)
    val binned = campaigns.withColumn("bin",
      explode(expr(s"sequence(start_ms DIV $binMs, end_ms DIV $binMs)")))
    val ev = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"value", $"ts_ms")
      .withColumn("bin", expr(s"ts_ms DIV $binMs"))
    val agg = ev.join(binned, Seq("bin"))
      .filter($"ts_ms" >= $"start_ms" && $"ts_ms" <= $"end_ms")
      .groupBy($"campaign_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum(round($"value", 2).cast("decimal(20,2)")).as("sv"))
    campaigns.join(agg, Seq("campaign_id"), "left")
      .select($"campaign_id", $"start_ms", $"end_ms",
        coalesce($"n_events", lit(0L)).as("n_events"),
        coalesce($"n_users", lit(0L)).as("n_users"),
        coalesce($"sv".cast("double"), lit(0.0)).as("sum_value"))
      .orderBy($"campaign_id")
  }

  val rangeJoinSql: String =
    """WITH c AS (
      |  SELECT range AS campaign_id,
      |    1704067200000 + range*57600000 AS start_ms,
      |    1704067200000 + range*57600000 + 21600000 + (range%8)*10800000 AS end_ms
      |  FROM range(40)),
      |e AS (SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms FROM events)
      |SELECT c.campaign_id, c.start_ms, c.end_ms,
      |  count(e.event_id) AS n_events,
      |  count(DISTINCT e.user_id) AS n_users,
      |  CAST(coalesce(sum(CAST(round(e.value, 2) AS DECIMAL(20,2))), 0) AS DOUBLE) AS sum_value
      |FROM c LEFT JOIN e ON e.ts_ms >= c.start_ms AND e.ts_ms <= c.end_ms
      |GROUP BY 1, 2, 3 ORDER BY campaign_id""".stripMargin

  // ---------------------------------------------------------------- №87 events_pipeline
  /** The analytics-family composed FLAGSHIP — the per-user summary a
    * product team actually reads, every column produced by the
    * STANDALONE operator it summarizes (the export_records /
    * crawl_pipeline composition discipline): sessions from №35's shared
    * assignment, funnel depth from №84, cohort week from №85's shared
    * activity fragment, attributed purchases from №75's as-of output —
    * so the summary cannot drift from the operators it composes (the
    * spec checks each column against the standalone query).
    *
    * Scale shape: every stage is user-keyed, so all four aggregations
    * shuffle on user_id and the final joins co-partition; output is one
    * row per user — workload-bounded. */
  def eventsPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sessions = sessionize(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
    val depth = sessionFunnel(spark, dir)
      .groupBy($"user_id").agg(max($"depth").as("best_depth"))
    val cohort = weeklyActive(spark, dir)
      .groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val attributed = asofJoin(spark, dir)
      .filter($"view_event_id".isNotNull)
      .groupBy($"user_id").agg(count(lit(1)).as("n_attributed"))
    sessions
      .join(depth, Seq("user_id"))
      .join(cohort, Seq("user_id"))
      .join(attributed, Seq("user_id"), "left")
      .select($"user_id", $"n_sessions", $"best_depth", $"cohort_week",
        coalesce($"n_attributed", lit(0L)).as("n_attributed"))
      .orderBy($"user_id")
  }

  /** Oracle composes the standalone oracles as subselects — the same
    * no-drift discipline on the SQL side. */
  val eventsPipelineSql: String =
    s"""WITH s AS (SELECT user_id, count(*) AS n_sessions
       |  FROM (${sessionizeSql.replace("\n", "\n  ")}) GROUP BY user_id),
       |f AS (SELECT user_id, CAST(max(depth) AS INTEGER) AS best_depth
       |  FROM (${sessionFunnelSql.replace("\n", "\n  ")}) GROUP BY user_id),
       |w AS (SELECT user_id,
       |    min((epoch_ms(ts) - 1704067200000) // 604800000) AS cohort_week
       |  FROM events GROUP BY user_id),
       |a AS (SELECT user_id, count(*) AS n_attributed
       |  FROM (${asofJoinSql.replace("\n", "\n  ")})
       |  WHERE view_event_id IS NOT NULL GROUP BY user_id)
       |SELECT s.user_id, s.n_sessions, f.best_depth, w.cohort_week,
       |  coalesce(a.n_attributed, 0) AS n_attributed
       |FROM s
       |JOIN f USING (user_id)
       |JOIN w USING (user_id)
       |LEFT JOIN a USING (user_id)
       |ORDER BY s.user_id""".stripMargin

  // ---------------------------------------------------------------- №105 scd2_intervals
  /** Slowly-changing-dimension type-2 build — the warehouse temporal-
    * modeling primitive (attribute history as validity intervals, the
    * table every "state as of time T" join reads): each user's event
    * type stream collapses to its CHANGE points (state ≠ previous
    * state), and each change opens an interval closed by the next
    * change — `valid_to` = the next change's timestamp, the open
    * current row carried at the [[Scd2HighMs]] high-date sentinel
    * (9999-12-31; an explicit `is_current` flag travels with it —
    * sentinels sort/hash deterministically where NULL conventions
    * differ by engine).
    *
    * Scale shape: two window passes over the SAME (user ordered by
    * ts, event_id) partitioning — change detection (lag) and interval
    * close (lead on the filtered change rows) — so there is ONE
    * user-keyed exchange+sort and the second window reuses it; output
    * is change-point-proportional, smaller than the input. */
  val Scd2HighMs = 253402300799000L // 9999-12-31T23:59:59.999Z

  /** 6h bar width, shared by time_downsample (№103) and gap_fill (№106).
    * Declared BEFORE both SQL vals — a forward reference from a val
    * initializer would silently interpolate 0. */
  val BarMs = 21600000L

  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    val changes = Tables(spark, dir).events
      .select($"user_id", $"event_type".as("state"), $"ts_ms", $"event_id")
      .withColumn("prev_state", lag($"state", 1).over(wOrd))
      .filter($"prev_state".isNull || $"prev_state" =!= $"state")
    changes
      .withColumn("valid_to", coalesce(lead($"ts_ms", 1).over(wOrd), lit(Scd2HighMs)))
      .select($"user_id", $"state", $"ts_ms".as("valid_from"), $"valid_to",
        ($"valid_to" === Scd2HighMs).as("is_current"))
      .orderBy($"user_id", $"valid_from")
  }

  val scd2IntervalsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type AS state, epoch_ms(ts) AS ts_ms, event_id FROM events),
       |ch AS (
       |  SELECT user_id, state, ts_ms, event_id,
       |    lag(state) OVER w AS prev_state
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |iv AS (
       |  SELECT user_id, state, ts_ms AS valid_from,
       |    coalesce(lead(ts_ms) OVER w, $Scd2HighMs) AS valid_to
       |  FROM ch WHERE prev_state IS NULL OR prev_state <> state
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
       |SELECT user_id, state, valid_from, valid_to,
       |  valid_to = $Scd2HighMs AS is_current
       |FROM iv ORDER BY user_id, valid_from""".stripMargin

  // ---------------------------------------------------------------- №106 gap_fill
  /** Calendar densification (gap-filling) — the time-series resample
    * step dashboards and forecasting features need (a bucket with no
    * events must EXIST at zero, not be silently absent): per event
    * type, generate the full 6h-bucket spine from the type's first to
    * last active bucket (`sequence()` + explode — the spine is
    * time-span-proportional, never corpus-proportional) and left-join
    * the actual bucket counts, materializing missing buckets at n=0
    * with a `filled` marker.
    *
    * Scale shape: one bounded (type, bucket) hash agg for the counts,
    * a #types-row bounds agg, the generated spine, and one equi-join
    * on (type, bucket) — output is calendar-sized however large the
    * corpus. Bars are 1h ([[GapMs]], finer than №103's 6h) so empty
    * buckets actually occur at the proof densities. */
  val GapMs = 3600000L

  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = graft.CacheRegistry.track(Tables(spark, dir).events
      .select($"event_type", expr(s"ts_ms DIV $GapMs").as("bucket"))
      .groupBy($"event_type", $"bucket").agg(count(lit(1)).as("n"))
      .persist())
    val spine = counts.groupBy($"event_type")
      .agg(min($"bucket").as("b0"), max($"bucket").as("b1"))
      .select($"event_type", explode(expr("sequence(b0, b1)")).as("bucket"))
    spine.join(counts, Seq("event_type", "bucket"), "left")
      .select($"event_type", $"bucket",
        coalesce($"n", lit(0L)).as("n_events"),
        $"n".isNull.as("filled"))
      .orderBy($"event_type", $"bucket")
  }

  val gapFillSql: String =
    s"""WITH c AS (
       |  SELECT event_type, epoch_ms(ts) // $GapMs AS bucket, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM c GROUP BY event_type),
       |spine AS (
       |  SELECT event_type, unnest(range(b0, b1 + 1)) AS bucket FROM b)
       |SELECT s.event_type, s.bucket,
       |  coalesce(c.n, 0) AS n_events,
       |  c.n IS NULL AS filled
       |FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.bucket = s.bucket
       |ORDER BY s.event_type, s.bucket""".stripMargin

  // ---------------------------------------------------------------- №103 time_downsample
  /** Time-series downsampling to OHLC bars — the Grafana/monitoring
    * primitive (a 100 TB event store renders dashboards from bars, not
    * raw points): per (event_type, 6h bucket): count, open/close (first/
    * last value in deterministic (ts, event_id) order via lexicographic
    * STRUCT min/max — the session_funnel ordering discipline; event_id
    * uniqueness means the value field never decides), low/high, and the
    * value sum under the q3_join DECIMAL discipline. Open/close/low/high
    * pass through unchanged doubles (comparisons only, no arithmetic) so
    * both engines emit bit-identical bars.
    *
    * Scale shape: one narrow projection → ONE hash agg on the bounded
    * (type, bucket) key with map-side partials; output is
    * dashboard-sized however large the corpus. Bar width = [[BarMs]]. */
  def timeDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .select($"event_type", expr(s"ts_ms DIV $BarMs").as("bucket"),
        $"ts_ms", $"event_id", $"value")
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n_events"),
        min(struct($"ts_ms", $"event_id", $"value")).as("o"),
        max(struct($"ts_ms", $"event_id", $"value")).as("c"),
        min($"value").as("low"), max($"value").as("high"),
        sum(round($"value", 2).cast("decimal(24,2)")).cast("double").as("vsum"))
      .select($"event_type", $"bucket", $"n_events",
        $"o.value".as("open"), $"high", $"low", $"c.value".as("close"), $"vsum")
      .orderBy($"event_type", $"bucket")
  }

  val timeDownsampleSql: String =
    s"""WITH e AS (
       |  SELECT event_type, epoch_ms(ts) // $BarMs AS bucket,
       |    struct_pack(ts_ms := epoch_ms(ts), eid := event_id, v := "value") AS k,
       |    "value" AS v
       |  FROM events),
       |a AS (
       |  SELECT event_type, bucket, count(*) AS n_events,
       |    (min(k)).v AS open, max(v) AS high, min(v) AS low, (max(k)).v AS close,
       |    CAST(sum(CAST(round(v, 2) AS DECIMAL(24,2))) AS DOUBLE) AS vsum
       |  FROM e GROUP BY 1, 2)
       |SELECT event_type, bucket, n_events, open, high, low, close, vsum
       |FROM a ORDER BY event_type, bucket""".stripMargin

  // ---------------------------------------------------------------- №104 incremental_agg
  /** Incremental view maintenance via MERGEABLE partial aggregates — the
    * pattern behind every incremental ETL at 100 TB (yesterday's
    * materialized aggregate + today's delta, never a full rescan): the
    * maintained view (per (returnflag, linestatus): count, sum qty, sum
    * revenue, min/max ship date) is computed here as TWO independent
    * partial aggregations (the standing "base" and an arriving "delta" —
    * modeled as the l_orderkey % 10 == 0 slice) whose states are then
    * MERGED by re-aggregation of the unioned partials. Counts/sums add,
    * min/min and max/max fold — every measure is chosen from the
    * mergeable lattice (an avg would be carried as sum+count). The
    * oracle computes the view DIRECTLY from the full table: merge ≡
    * full is the driver-checked contract, and the spec additionally
    * proves it in-engine.
    *
    * Scale shape: each partial is one hash agg; the merge re-agg runs
    * over 2×|groups| partial rows — group-cardinality-bounded, the
    * whole point of the pattern. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(24,2)")).as("qty"),
          sum(round($"l_extendedprice", 2).cast("decimal(24,2)")).as("rev"),
          min($"l_shipdate").as("first_ship"), max($"l_shipdate").as("last_ship"))
    val li = Tables(spark, dir).lineitem
    val base = partial(li.filter($"l_orderkey" % 10 =!= 0))
    val delta = partial(li.filter($"l_orderkey" % 10 === 0))
    base.unionAll(delta)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"n").as("n_rows"),
        sum($"qty").cast("double").as("sum_qty"),
        sum($"rev").cast("double").as("sum_rev"),
        min($"first_ship").as("first_ship"), max($"last_ship").as("last_ship"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val incrementalAggSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(24,2))) AS DOUBLE) AS sum_rev,
      |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- №102 json_metrics
  /** Semi-structured column analytics — aggregating over a JSON payload
    * without a pre-flattening ETL step (the shape every event pipeline
    * with a `properties` blob needs): extract `props.k` per row
    * (`get_json_object` — a codegen'd path expression, no UDF) and roll
    * up per event type with EXACT arithmetic: BIGINT sum/min/max, the
    * mean as `sum·1000 DIV n` (integer ×1000 — float division would
    * drift), and the non-null extraction count reported separately from
    * the row count (absent keys are data, not errors). The extracted
    * string passes an explicit integer-format regexp gate BEFORE the
    * cast in BOTH engines — bare casts diverge on non-integer payloads
    * (Spark's string→long cast nulls "12.5" where DuckDB's rounds it to
    * 13), so the shared gate is what makes the parse engine-identical.
    *
    * Scale shape: a pure per-row projection feeding ONE bounded hash agg
    * on event_type — the JSON parse rides the scan, map-side partials
    * collapse to #types rows. At 100 TB the right move is still this
    * (parse-on-scan), with the projection pushed next to the reader;
    * repeated full-document parses of LARGE payloads would instead
    * warrant `from_json` with an explicit schema into a struct column
    * once, then column pruning — noted, not needed for a one-key probe. */
  def jsonMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .select($"event_type", get_json_object($"props", "$.k").as("ks"))
      .select($"event_type",
        when($"ks".rlike("^-?[0-9]+$"), $"ks".cast("long")).as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), count($"k").as("n_k"),
        sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
      .select($"event_type", $"n_events", $"n_k", $"sum_k",
        expr("sum_k * 1000 DIV n_k").as("mean_k_x1000"), $"min_k", $"max_k")
      .orderBy($"event_type")
  }

  val jsonMetricsSql: String =
    """WITH x AS (
      |  SELECT event_type, json_extract_string(props, '$.k') AS ks FROM events),
      |e AS (
      |  SELECT event_type,
      |    CASE WHEN regexp_matches(ks, '^-?[0-9]+$') THEN CAST(ks AS BIGINT) END AS k
      |  FROM x),
      |a AS (
      |  SELECT event_type, count(*) AS n_events, count(k) AS n_k,
      |    CAST(sum(k) AS BIGINT) AS sum_k,
      |    CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n_events, n_k, sum_k,
      |  sum_k * 1000 // n_k AS mean_k_x1000, min_k, max_k
      |FROM a ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- №100 rollup_report
  /** Hierarchical subtotal reporting via ROLLUP — the OLAP grouping-sets
    * surface (year × priority order totals with per-year subtotals and a
    * grand total in ONE pass): Spark's `rollup()` and DuckDB's `ROLLUP`
    * compute the same lattice, and Catalyst plans it as a single Expand +
    * hash aggregate — one scan, one shuffle, NOT one job per level.
    * Revenue sums ride the q3_join DECIMAL discipline (round → DECIMAL
    * accumulate → DOUBLE once at the end) so the fold order can't drift;
    * subtotal rows surface with explicit `grouping()` flags and sentinel
    * labels (`-1` / `'ALL'`) instead of engine-spaced NULLs. */
  def rollupReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .select(year($"o_orderdate").as("o_year"), $"o_orderpriority",
        round($"o_totalprice", 2).cast("decimal(24,2)").as("p"))
      .rollup($"o_year", $"o_orderpriority")
      .agg(grouping($"o_year").cast("int").as("g_year"),
        grouping($"o_orderpriority").cast("int").as("g_prio"),
        count(lit(1)).as("n_orders"),
        sum($"p").cast("double").as("revenue"))
      .select(coalesce($"o_year", lit(-1)).as("o_year"),
        coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
        $"g_year", $"g_prio", $"n_orders", $"revenue")
      .orderBy($"g_year", $"g_prio", $"o_year", $"o_orderpriority")
  }

  val rollupReportSql: String =
    """WITH o AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |    CAST(round(o_totalprice, 2) AS DECIMAL(24,2)) AS p
      |  FROM orders),
      |r AS (
      |  SELECT o_year, o_orderpriority,
      |    CAST(grouping(o_year) AS INT) AS g_year,
      |    CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |    count(*) AS n_orders,
      |    CAST(sum(p) AS DOUBLE) AS revenue
      |  FROM o GROUP BY ROLLUP (o_year, o_orderpriority))
      |SELECT coalesce(o_year, -1) AS o_year,
      |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |  g_year, g_prio, n_orders, revenue
      |FROM r
      |ORDER BY g_year, g_prio, o_year, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- №101 pivot_matrix
  /** Wide-format reporting via PIVOT — the per-entity feature matrix
    * (each user's event-type mix as columns, the frame handed to a BI
    * tool or a feature store): Spark's `pivot()` with an EXPLICIT value
    * list — never the value-discovering overload, which runs an extra
    * distinct scan and breaks column determinism when types drift; the
    * oracle is the equivalent CASE-sum projection, so both engines
    * produce the identical wide schema. One hash agg on user_id; the
    * pivot adds zero extra shuffles (it is a pivoted aggregate, not a
    * join). */
  val PivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def pivotMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy($"user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .select($"user_id" +: PivotTypes.map(t =>
        coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy($"user_id")
  }

  val pivotMatrixSql: String = {
    val cols = PivotTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- №98 skew_profile
  /** Join-key skew diagnostic — the table an operator reads BEFORE
    * deciding to salt (№4b latest_cell_salted is the cure; this is the
    * diagnosis): the top-[[SkewK]] heaviest keys of a prospective join/
    * aggregation key with each key's share of all rows (exact ppm) and
    * its ratio to the mean key load (exact ×1000:
    * `n·n_keys·1000 DIV total` — a uniform key sits at 1000). A key at
    * 50× mean is the partition that straggles a 1000-executor shuffle.
    *
    * Scale shape: ONE hash agg on the key (map-side partials), a 3-field
    * single-row total, and the №51 GroupedTopK bounded-heap ranking over
    * a constant group — ≤K rows per partition reach the driver-side
    * exchange, never a global sort of the key histogram. */
  val SkewK = 20

  /** skew_x1000 runs in DECIMAL(38,0)/HUGEINT (r11 audit): it
    * multiplies a hot key's event count by the DISTINCT-KEY count —
    * 10¹⁰ events × 10⁹ keys × 10³ = 10²² ≫ 2⁶³ on exactly the skewed
    * corpus this operator exists to diagnose; share_ppm converted with
    * it (counts·10⁶ wraps past 9.2·10¹² events on one key). */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = graft.CacheRegistry.track(Tables(spark, dir).events
      .groupBy($"user_id").agg(count(lit(1)).as("n")).persist())
    val tot = counts.agg(sum($"n").as("t"), count(lit(1)).as("n_keys"))
    val ranked = graft.plans.GroupedTopK.rankedTopK(
      counts.select(lit(0).as("g"), $"user_id", $"n".cast("double").as("score")),
      "g", "score", "user_id", SkewK)
    ranked.crossJoin(broadcast(tot))
      .select($"rank", $"user_id", $"score".cast("long").as("n_events"),
        expr("CAST(CAST(score AS BIGINT) AS DECIMAL(38,0)) * 1000000 DIV t").as("share_ppm"),
        expr("CAST(CAST(score AS BIGINT) AS DECIMAL(38,0)) * n_keys * 1000 DIV t").as("skew_x1000"))
      .orderBy($"rank")
  }

  val skewProfileSql: String =
    s"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS n_keys FROM c),
       |r AS (
       |  SELECT user_id, n,
       |    CAST(row_number() OVER (ORDER BY n DESC, user_id ASC) AS INTEGER) AS rank
       |  FROM c)
       |SELECT rank, user_id, n AS n_events,
       |  CAST(CAST(n AS HUGEINT) * 1000000 // t AS BIGINT) AS share_ppm,
       |  CAST(CAST(n AS HUGEINT) * n_keys * 1000 // t AS BIGINT) AS skew_x1000
       |FROM r CROSS JOIN tot WHERE rank <= $SkewK ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- №127 salted_join
  /** SALTED skewed join — the third leg of the skew triad (№98
    * skew_profile MEASURES the key distribution, №4b latest_cell_salted
    * salts a hot-key AGGREGATION; this salts the hot-key JOIN): a fact
    * stream whose join key concentrates ~⅓ of all rows on ONE key
    * (deterministically injected: event_id ≡ 0 mod 3 remaps to user 0 —
    * the platform-account / null-key / bot-traffic shape) joins a
    * corpus-derived user dimension. Unsalted, every hot-key row lands in
    * one shuffle partition and the join stalls on a straggler; salted,
    * the fact side appends salt = event_id mod [[SkewSalt]] and the dim
    * side replicates ×[[SkewSalt]] (an explode of a constant-size
    * sequence — dim rows are user-bounded, so the replication is
    * dim-sized work, never corpus-sized), the join key becomes
    * (user, salt), and the hot key spreads over [[SkewSalt]] partitions.
    *
    * Salting is an ACCESS PATH, not a semantic: the driver row is the
    * per-user join rollup and its oracle is the plain UNSALTED join —
    * identical answers by construction. AQE's runtime skew-join split
    * (on in GraftSession) covers sort-merge joins it can see; the
    * explicit salt is the static formulation that also holds for
    * hash-join pipelines and downstream ops pinned to the join
    * partitioning. SaltedJoinSpec proves salted ≡ unsalted row-for-row
    * AND that the salt actually balances: the max (key, salt) bucket
    * shrinks toward max_key/S on the injected distribution. */
  val SkewSalt = 8

  def saltedJoin(spark: SparkSession, dir: String, sorted: Boolean = true): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select(when($"event_id" % 3 === 0, lit(0L)).otherwise($"user_id").as("skew_user"),
        $"event_id", $"event_type", $"ts_ms")
    val dim = Tables(spark, dir).events
      .groupBy($"user_id").agg(min($"ts_ms").as("first_ms"))
    val factS = ev.withColumn("salt", ($"event_id" % SkewSalt).cast("int"))
    val dimS = dim.withColumn("salt", explode(sequence(lit(0), lit(SkewSalt - 1))))
    // SHUFFLE_HASH pin: at test SF the user dim is broadcastable and
    // Catalyst would rightly broadcast it (no shuffle, no skew) — but at
    // 100 TB a billion-user dim is not, and THAT is the plan the salt
    // exists for; the hint makes the test-scale plan match the at-scale
    // shape (the №46 line_dedup precedent)
    factS.join(dimS.hint("SHUFFLE_HASH"),
        factS("skew_user") === dimS("user_id") && factS("salt") === dimS("salt"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max($"ts_ms" - $"first_ms").as("max_tenure_ms"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_purchase"))
      .transform(presentationSort(sorted, $"user_id"))
  }

  val saltedJoinSql: String =
    s"""WITH sj_e AS (
       |  SELECT CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END AS skew_user,
       |    event_id, event_type, epoch_ms(ts) AS ts_ms
       |  FROM events),
       |sj_d AS (
       |  SELECT user_id, min(epoch_ms(ts)) AS first_ms FROM events GROUP BY user_id)
       |SELECT d.user_id, count(*) AS n_events,
       |  max(e.ts_ms - d.first_ms) AS max_tenure_ms,
       |  CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
       |FROM sj_e e JOIN sj_d d ON e.skew_user = d.user_id
       |GROUP BY d.user_id ORDER BY d.user_id""".stripMargin

  // ---------------------------------------------------------------- №132 attribution
  /** Marketing attribution — FIRST-touch vs LAST-touch click credit for
    * every purchase, both models in ONE №75-style merge pass (clicks and
    * purchases union-tagged, one shuffle on user_id, and the SAME running
    * window carries `first(click, ignoreNulls)` AND `last(click,
    * ignoreNulls)` — two models cost one window, not two joins; r10: both
    * models' rollups are ONE aggregation pass too — the two
    * `countDistinct`s on different columns plan as a single Expand and a
    * `stack` reshapes the one summary row into the 2-row output, so the
    * window output is scanned once with no persist). Revenue
    * is EXACT integer cents (value·100 rounded with the §5 nudge) so the
    * per-model sums are order-independent BIGINTs — never a float fold.
    *
    * Same-ms semantics inherit №75's contract: a click at the purchase's
    * exact ms is visible (side orders clicks first), last-touch breaks
    * click ties on max event_id, first-touch on min. Output: 2 rows
    * (model × attribution rollup) however big the corpus. The oracle is
    * the independent inequality-join arg-min/arg-max formulation. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"event_type", $"ts_ms",
        expr("CAST(round(value * 100 + 0.000000001) AS BIGINT)").as("cents"))
    val tagged = e.filter($"event_type" === "click")
      .select($"user_id", $"ts_ms", $"event_id", lit(0).as("side"), lit(0L).as("cents"))
      .unionByName(e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts_ms", $"event_id", lit(1).as("side"), $"cents"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"side", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = tagged
      .withColumn("first_click", first(when($"side" === 0, $"event_id"), ignoreNulls = true).over(w))
      .withColumn("last_click", last(when($"side" === 0, $"event_id"), ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"cents", $"first_click", $"last_click")
    // BOTH models' rollups in ONE aggregation pass (the two countDistincts
    // on different columns plan as a single Expand — no second scan of the
    // window output, no persist), then stack the single row into the
    // 2-row (model × rollup) output
    per.agg(
        count(when($"first_click".isNotNull, 1)).as("fa"),
        count(when($"first_click".isNull, 1)).as("fu"),
        sum(when($"first_click".isNotNull, $"cents").otherwise(0L)).as("fc"),
        countDistinct($"first_click").as("fk"),
        count(when($"last_click".isNotNull, 1)).as("la"),
        count(when($"last_click".isNull, 1)).as("lu"),
        sum(when($"last_click".isNotNull, $"cents").otherwise(0L)).as("lc"),
        countDistinct($"last_click").as("lk"))
      .select(expr("""stack(2,
          'first_touch', fa, fu, fc, fk,
          'last_touch',  la, lu, lc, lk)
          AS (model, n_attributed, n_unattributed, cents_attributed, n_clicks_credited)"""))
      .orderBy($"model")
  }

  val attributionSql: String =
    s"""WITH at_e AS (
       |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
       |    CAST(round(value * 100 + 0.000000001) AS BIGINT) AS cents
       |  FROM events),
       |at_p AS (SELECT * FROM at_e WHERE event_type = 'purchase'),
       |at_c AS (SELECT * FROM at_e WHERE event_type = 'click'),
       |at_j AS (
       |  SELECT p.event_id, p.cents, c.event_id AS c_id,
       |    row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts_ms ASC, c.event_id ASC) AS rn_f,
       |    row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts_ms DESC, c.event_id DESC) AS rn_l
       |  FROM at_p p LEFT JOIN at_c c ON c.user_id = p.user_id AND c.ts_ms <= p.ts_ms),
       |at_per AS (
       |  SELECT f.event_id, f.cents, f.c_id AS first_click, l.c_id AS last_click
       |  FROM (SELECT event_id, cents, c_id FROM at_j WHERE rn_f = 1) f
       |  JOIN (SELECT event_id, c_id FROM at_j WHERE rn_l = 1) l USING (event_id))
       |SELECT 'first_touch' AS model,
       |  count(CASE WHEN first_click IS NOT NULL THEN 1 END) AS n_attributed,
       |  count(CASE WHEN first_click IS NULL THEN 1 END) AS n_unattributed,
       |  CAST(sum(CASE WHEN first_click IS NOT NULL THEN cents ELSE 0 END) AS BIGINT) AS cents_attributed,
       |  count(DISTINCT first_click) AS n_clicks_credited
       |FROM at_per
       |UNION ALL
       |SELECT 'last_touch' AS model,
       |  count(CASE WHEN last_click IS NOT NULL THEN 1 END) AS n_attributed,
       |  count(CASE WHEN last_click IS NULL THEN 1 END) AS n_unattributed,
       |  CAST(sum(CASE WHEN last_click IS NOT NULL THEN cents ELSE 0 END) AS BIGINT) AS cents_attributed,
       |  count(DISTINCT last_click) AS n_clicks_credited
       |FROM at_per
       |ORDER BY model""".stripMargin

  // ---------------------------------------------------------------- №155 burst_detect
  /** BURST detection on the event stream — the ops-anomaly table (traffic
    * spike / incident review: which (event_type, day) cells ran hot
    * against their own trailing week): per cell, compare the day's count
    * against the mean of the previous 7 calendar days via the exact
    * cross-multiplied integer compare n·2·base_n > 3·base_sum (the 1.5×
    * threshold with no division, the ab_test discipline) — flagged days
    * require a FULL 7-day baseline (base_n = 7), so the first week warms
    * up and every verdict has the same evidence base.
    *
    * Scale shape: ONE bounded hash agg (event_type × calendar days), a
    * RANGE window over the day number (calendar-keyed — partitions sort
    * dozens of rows however big the corpus), bounded output.
    *
    * Branch liveness is SF-dependent and honest: the synthetic stream is
    * uniform, so at sf0.01+ no day clears 1.5× its trailing week (all
    * verdicts false — the healthy-system read); at the spec's sf0.001 the
    * small-sample noise fires 13 bursts, exercising both branches. */
  /** Overflow bound (r11 audit): the compare multiplies a per-(type,
    * day) count by 14 and a 7-day sum by 3 — BIGINT holds to n ≈
    * 6.6·10¹⁷ events/day/type, ~5 orders past a 100 TB/day feed. */
  val BurstNumer = 3L // threshold = BurstNumer / BurstDenom × trailing mean
  val BurstDenom = 2L

  def burstDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir).events
      .groupBy($"event_type", expr("ts_ms DIV 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rangeBetween(-7, -1)
    daily
      .withColumn("base_sum", sum($"n").over(w))
      .withColumn("base_n", count($"n").over(w))
      .filter($"base_n" === 7)
      .select($"event_type", $"day", $"n", $"base_sum",
        ($"n" * lit(BurstDenom * 7) > lit(BurstNumer) * $"base_sum").as("burst"))
      .orderBy($"event_type", $"day")
  }

  val burstDetectSql: String =
    s"""WITH bd_d AS (
       |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |bd_w AS (
       |  SELECT event_type, day, n,
       |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
       |      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS base_sum,
       |    CAST(count(n) OVER (PARTITION BY event_type ORDER BY day
       |      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS base_n
       |  FROM bd_d)
       |SELECT event_type, day, n, base_sum,
       |  n * $BurstDenom * 7 > $BurstNumer * base_sum AS burst
       |FROM bd_w WHERE base_n = 7 ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------- №154 attribution_linear
  /** LINEAR (even-credit) attribution over a LOOKBACK WINDOW — the third
    * industry model beside №132's first/last-touch, and the one that
    * needs a different JOIN SHAPE: every click in the purchase's
    * [[AttrWindowMs]] lookback shares the revenue, so the operator is a
    * user-keyed INTERVAL join (the №76 range class — bounded by clicks ×
    * purchases per user per window, the state bound №57's streaming twin
    * carries), not a running-window merge. Credit is EXACT integer cents:
    * each windowed click gets cents DIV n, the remainder goes to the LAST
    * click (max (ts, event_id) — deterministic), so per-purchase credits
    * sum to the purchase's cents EXACTLY — conservation is shipped IN the
    * row (cents_attributed vs credited_cents must be equal, and the
    * oracle recomputes both sides independently).
    *
    * Output one row however big the corpus: attribution coverage, the
    * conserved totals, distinct credited clicks, and the largest single
    * click's accumulated cents (the "MVP click" a budget review asks
    * for). */
  val AttrWindowMs: Long = 7L * 86400000L

  /** Overflow bound (r11 audit): no cross-multiplication anywhere —
    * credits are cents DIV n plus a remainder, and the widest value is
    * the corpus-total credited_cents sum: 10¹² purchases × 10⁶ cents =
    * 10¹⁸ < 2⁶³. Headroom stands at 100 TB; past ~10¹³ purchases the
    * two total columns (only) would need DECIMAL(38). */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"event_type", $"ts_ms",
        expr("CAST(round(value * 100 + 0.000000001) AS BIGINT)").as("cents"))
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"), $"user_id", $"ts_ms".as("pms"), $"cents")
    val c = e.filter($"event_type" === "click")
      .select($"event_id".as("cid"), $"user_id", $"ts_ms".as("cms"))
    val pairs = graft.CacheRegistry.track(p.join(c, Seq("user_id"))
      .filter($"cms" <= $"pms" && $"cms" > $"pms" - AttrWindowMs)
      .select($"pid", $"cents", $"cid", $"cms")
      .persist())
    val per = graft.CacheRegistry.track(pairs
      .groupBy($"pid", $"cents")
      .agg(count(lit(1)).as("n_vis"), max(struct($"cms", $"cid")).as("last"))
      .persist())
    val credit = graft.CacheRegistry.track(pairs.join(per, Seq("pid", "cents"))
      .select($"cid",
        (expr("cents DIV n_vis") +
          when(struct($"cms", $"cid") === $"last", $"cents" % $"n_vis").otherwise(0L)).as("credit"))
      .filter($"credit" > 0)
      .persist())
    val byClick = credit.groupBy($"cid").agg(sum($"credit").as("click_cents"))
    p.agg(count(lit(1)).as("n_purchases"))
      .crossJoin(broadcast(per.agg(count(lit(1)).as("n_attributed"),
        sum($"cents").as("cents_attributed"))))
      .crossJoin(broadcast(credit.agg(sum($"credit").as("credited_cents"),
        countDistinct($"cid").as("n_clicks_credited"))))
      .crossJoin(broadcast(byClick.agg(max($"click_cents").as("max_click_cents"))))
      .select(lit("linear").as("model"),
        $"n_attributed", ($"n_purchases" - $"n_attributed").as("n_unattributed"),
        $"cents_attributed", $"credited_cents", $"n_clicks_credited", $"max_click_cents")
  }

  val attributionLinearSql: String =
    s"""WITH al_e AS (
       |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
       |    CAST(round(value * 100 + 0.000000001) AS BIGINT) AS cents
       |  FROM events),
       |al_p AS (SELECT event_id AS pid, user_id, ms AS pms, cents FROM al_e WHERE event_type = 'purchase'),
       |al_c AS (SELECT event_id AS cid, user_id, ms AS cms FROM al_e WHERE event_type = 'click'),
       |al_j AS (
       |  SELECT p.pid, p.cents, c.cid, c.cms,
       |    count(*) OVER (PARTITION BY p.pid) AS n_vis,
       |    row_number() OVER (PARTITION BY p.pid ORDER BY c.cms DESC, c.cid DESC) AS rn
       |  FROM al_p p JOIN al_c c
       |    ON c.user_id = p.user_id AND c.cms <= p.pms AND c.cms > p.pms - $AttrWindowMs),
       |al_credit AS (
       |  SELECT cid, cents // n_vis + CASE WHEN rn = 1 THEN cents % n_vis ELSE 0 END AS credit
       |  FROM al_j),
       |al_pos AS (SELECT cid, credit FROM al_credit WHERE credit > 0),
       |al_click AS (SELECT cid, CAST(sum(credit) AS BIGINT) AS click_cents FROM al_pos GROUP BY cid)
       |SELECT 'linear' AS model,
       |  (SELECT count(DISTINCT pid) FROM al_j) AS n_attributed,
       |  (SELECT count(*) FROM al_p) - (SELECT count(DISTINCT pid) FROM al_j) AS n_unattributed,
       |  (SELECT CAST(sum(cents) AS BIGINT) FROM (SELECT DISTINCT pid, cents FROM al_j)) AS cents_attributed,
       |  (SELECT CAST(sum(credit) AS BIGINT) FROM al_pos) AS credited_cents,
       |  (SELECT count(*) FROM al_click) AS n_clicks_credited,
       |  (SELECT max(click_cents) FROM al_click) AS max_click_cents""".stripMargin

  // ---------------------------------------------------------------- №131 ab_test
  /** A/B experiment readout — the two-proportion chi-square table every
    * product-analytics stack ships (and the gate a data pipeline runs
    * before promoting a corpus/filter variant): users split into arms by
    * deterministic assignment (user_id mod 2 — the hash-bucket shape),
    * outcome = the user's purchase count STRICTLY above the corpus mean
    * (corpus-derived via exact cross-multiplication np·n_users >
    * total_purchases — splits at every SF, no magic constant), and the
    * 2×2 chi-square statistic computed from EXACT integer factors:
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), with significance at
    * α = 0.05 decided by the exact integer cross-compare
    * num·1000 > 3841·den (3.841 = the χ²₁ critical value) — no float
    * enters the DECISION; only the reported 6dp χ² touches double.
    *
    * Scale shape: one hash agg on user_id (corpus pass), a single-row
    * totals broadcast, then a bounded 4-cell rollup — output one row
    * however big the corpus. Integer-exactness: the cross-compare runs
    * in 38-digit integer arithmetic — DECIMAL(38,0) in Spark, HUGEINT
    * (128-bit) in the DuckDB oracle — because the BIGINT form overflows
    * (ad−bc)²·N·1000 past n ≈ 55k users. The 38-digit bound is
    * 1000·N⁵/16 < 10³⁸ ⇒ exact to N ≈ 1.7·10⁷ users per experiment
    * (worst-case cells; typical imbalanced cells reach further), with a
    * spec-pinned >55k arm where BIGINT provably wraps. Past that the
    * χ² REPORT (double) is still monotone-faithful; the decision
    * comparison saturates rather than silently flipping sign the way a
    * BIGINT wrap does. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val u = Tables(spark, dir).events
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("np"))
    val t = u.agg(count(lit(1)).as("nu"), sum($"np").as("tp"))
    val cls = u.crossJoin(broadcast(t))
      .select(($"user_id" % 2).as("arm"), ($"np" * $"nu" > $"tp").as("conv"))
    cls.agg(
      sum(when($"arm" === 0 && $"conv", 1L).otherwise(0L)).as("a"),
      sum(when($"arm" === 0 && !$"conv", 1L).otherwise(0L)).as("b"),
      sum(when($"arm" === 1 && $"conv", 1L).otherwise(0L)).as("c"),
      sum(when($"arm" === 1 && !$"conv", 1L).otherwise(0L)).as("d"))
      .select($"a", $"b", $"c", $"d",
        round($"a".cast("double") / ($"a" + $"b") + lit(1e-9), 6).as("rate_a"),
        round($"c".cast("double") / ($"c" + $"d") + lit(1e-9), 6).as("rate_b"),
        expr("""CASE WHEN a+b = 0 OR c+d = 0 OR a+c = 0 OR b+d = 0 THEN NULL
                ELSE round(CAST(CAST(a+b+c+d AS DECIMAL(38,0)) * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
                           / CAST(CAST(a+b AS DECIMAL(38,0))*(c+d)*(a+c)*(b+d) AS DOUBLE), 6) END""").as("chi2"),
        expr("""CAST(a+b+c+d AS DECIMAL(38,0)) * (a*d - b*c) * (a*d - b*c) * 1000
                > CAST(3841 AS DECIMAL(38,0)) * (a+b)*(c+d)*(a+c)*(b+d)""").as("significant"))
  }

  val abTestSql: String =
    s"""WITH ab_u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
       |  FROM events GROUP BY user_id),
       |ab_t AS (SELECT count(*) AS nu, CAST(sum(np) AS BIGINT) AS tp FROM ab_u),
       |ab_c AS (
       |  SELECT user_id % 2 AS arm, (np * nu > tp) AS conv FROM ab_u CROSS JOIN ab_t),
       |ab_cells AS (
       |  SELECT
       |    CAST(sum(CASE WHEN arm = 0 AND conv THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN arm = 0 AND NOT conv THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN arm = 1 AND NOT conv THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM ab_c)
       |SELECT a, b, c, d,
       |  round(CAST(a AS DOUBLE) / (a + b) + 0.000000001, 6) AS rate_a,
       |  round(CAST(c AS DOUBLE) / (c + d) + 0.000000001, 6) AS rate_b,
       |  CASE WHEN a+b = 0 OR c+d = 0 OR a+c = 0 OR b+d = 0 THEN NULL
       |    ELSE round(CAST(CAST(a+b+c+d AS HUGEINT) * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
       |               / CAST(CAST(a+b AS HUGEINT)*(c+d)*(a+c)*(b+d) AS DOUBLE), 6) END AS chi2,
       |  CAST(a+b+c+d AS HUGEINT) * (a*d - b*c) * (a*d - b*c) * 1000
       |    > CAST(3841 AS HUGEINT) * (a+b)*(c+d)*(a+c)*(b+d) AS significant
       |FROM ab_cells""".stripMargin

  // ---------------------------------------------------------------- №99 compact_plan
  /** Small-file compaction planning — the maintenance operator behind
    * `OPTIMIZE`/compaction jobs (the small-files problem is THE classic
    * 100 TB operational failure: a million 1 MB files make every scan
    * driver-bound): given the per-file metadata frame (modeled here as
    * one file per source: doc count + byte size), assign files to
    * compaction bins by first-fit in deterministic file order — the raw
    * boundary is running-bytes-before DIV [[CompactTarget]], then
    * dense_rank compacts the ids so bins number 0..n−1 with no gaps
    * even when an oversized file (> target) skips quotient values and
    * becomes its own single-file bin. Files at or under the target pack
    * to within one file of it; the plan is reproducible either way.
    *
    * Scale shape: the input is the FILE-METADATA frame, not the data —
    * files ≪ rows by construction (that is the point of compaction), so
    * the single-partition running-sum window over it is bounded metadata
    * work (the train_shard_sink manifest class), and the data itself is
    * never touched until the plan executes. */
  val CompactTarget = 50000L

  def compactPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val files = Tables(spark, dir).documents
      .groupBy($"source").agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_bytes"))
    val w = Window.orderBy($"source").rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum($"n_bytes").over(w), lit(0L)))
      .withColumn("raw_bin", expr(s"cum_before DIV $CompactTarget"))
      .withColumn("bin",
        (dense_rank().over(Window.orderBy($"raw_bin")) - 1).cast("long"))
      .select($"source", $"n_docs", $"n_bytes", $"bin")
      .orderBy($"source")
  }

  val compactPlanSql: String =
    s"""WITH f AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_bytes
       |  FROM documents GROUP BY source),
       |c AS (
       |  SELECT source, n_docs, n_bytes,
       |    CAST(coalesce(sum(n_bytes) OVER (ORDER BY source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM f),
       |b AS (
       |  SELECT source, n_docs, n_bytes,
       |    CAST(dense_rank() OVER (ORDER BY cum_before // $CompactTarget) - 1 AS BIGINT) AS bin
       |  FROM c)
       |SELECT source, n_docs, n_bytes, bin FROM b ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- №93 zorder_layout
  /** Z-order (Morton-curve) layout planning with the file-skipping gain
    * MEASURED — the data-layout lever behind Delta/Iceberg `OPTIMIZE
    * ZORDER BY`: when queries filter on TWO dimensions, a linear sort
    * co-locates only the leading one, while bit-interleaving both keeps
    * each file's (min,max) envelope tight on BOTH axes, so footer-stats
    * pruning skips far more files. Model: events mapped to an 8-bit
    * (x = user bucket, y = minute-of-epoch bucket) grid; file id =
    * z DIV [[ZCell]] (a 16×16 tile) for the z-order layout vs x (sorted
    * by user) for the linear one; per-file stats = min/max per axis (the
    * parquet footer model); the probe rectangle [[ZRect]] touches a file
    * iff its envelope intersects. Everything is exact integer arithmetic
    * — the interleave is an UNROLLED shift/mask sum generated by one
    * Scala loop for both engines (no string hex tricks, no floats).
    *
    * Scale shape: one narrow projection + ONE bounded hash agg per
    * layout (≤256 file cells), then a constant-size rollup — no window,
    * no global sort; `rows_matched` must agree across layouts (layout
    * never changes answers — the bucketed_join ethos), which the oracle
    * and spec both pin. Assigning by z-RANGE rather than a global
    * row_number rank is deliberate: at 100 TB a rank would funnel the
    * corpus through one ordered partition, while z-range cells need
    * only the per-row interleave. */
  val ZBits = 8
  val ZCell = 256L
  // x0..x1 must be populated at every SF (sf0.001 has users 0..14 only)
  val ZRect: (Long, Long, Long, Long) = (8L, 15L, 64L, 95L) // x0,x1,y0,y1

  /** The unrolled Morton interleave Σ bits — identical text modulo each
    * engine's shift syntax (Spark: shiftleft/shiftright fns; DuckDB:
    * operators), generated by the same loop. */
  private def zExpr(shl: (String, Int) => String, shr: (String, Int) => String): String =
    (0 until ZBits).flatMap { j =>
      Seq(shl(s"(${shr("x", j)} & 1)", 2 * j), shl(s"(${shr("y", j)} & 1)", 2 * j + 1))
    }.mkString(" + ")
  private val zSpark = zExpr((e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")
  private val zDuck = zExpr((e, n) => s"(($e) << $n)", (e, n) => s"(($e) >> $n)")

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (x0, x1, y0, y1) = ZRect
    val base = graft.CacheRegistry.track(Tables(spark, dir).events
      .select(expr("user_id % 256").as("x"), expr("(ts_ms DIV 60000) % 256").as("y"))
      .persist())
    val inRect = $"x" >= x0 && $"x" <= x1 && $"y" >= y0 && $"y" <= y1
    def layoutStats(fileId: org.apache.spark.sql.Column, layout: String): DataFrame = {
      val touched = !($"max_x" < x0 || $"min_x" > x1 || $"max_y" < y0 || $"min_y" > y1)
      base.groupBy(fileId.as("file_id"))
        .agg(count(lit(1)).as("n"),
          min($"x").as("min_x"), max($"x").as("max_x"),
          min($"y").as("min_y"), max($"y").as("max_y"),
          sum(when(inRect, 1L).otherwise(0L)).as("m"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(touched, 1L).otherwise(0L)).as("files_touched"),
          sum($"n").as("n_rows"),
          sum(when(touched, $"n").otherwise(0L)).as("rows_scanned"),
          sum($"m").as("rows_matched"))
        .select(lit(layout).as("layout"), $"n_files", $"files_touched",
          $"n_rows", $"rows_scanned", $"rows_matched")
    }
    layoutStats(expr(s"($zSpark) DIV $ZCell"), "zorder")
      .unionAll(layoutStats($"x", "linear"))
      .orderBy($"layout")
  }

  val zorderLayoutSql: String = {
    val (x0, x1, y0, y1) = ZRect
    val touched = s"NOT (max_x < $x0 OR min_x > $x1 OR max_y < $y0 OR min_y > $y1)"
    def statsSql(fileExpr: String, layout: String): String =
      s"""SELECT '$layout' AS layout, count(*) AS n_files,
         |    CAST(sum(CASE WHEN $touched THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |    CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN $touched THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
         |    CAST(sum(m) AS BIGINT) AS rows_matched
         |  FROM (
         |    SELECT $fileExpr AS file_id, count(*) AS n,
         |      min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
         |      CAST(sum(CASE WHEN x BETWEEN $x0 AND $x1 AND y BETWEEN $y0 AND $y1
         |        THEN 1 ELSE 0 END) AS BIGINT) AS m
         |    FROM ev GROUP BY 1) f""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id % 256 AS x, (epoch_ms(ts) // 60000) % 256 AS y FROM events)
       |${statsSql(s"($zDuck) // $ZCell", "zorder")}
       |UNION ALL
       |${statsSql("x", "linear")}
       |ORDER BY layout""".stripMargin
  }

  val q3Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount),4) AS DECIMAL(24,4))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY sum(CAST(round(l_extendedprice*(1-l_discount),4) AS DECIMAL(24,4))) DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- №112 cdc_merge
  /** MERGE INTO — the CDC upsert/delete the lakehouse maintenance cycle
    * runs (Delta/Iceberg MERGE semantics, relationally): a base snapshot
    * (per-user state before T1) merged with a change batch ([T1,T2)):
    * unmatched-base rows KEEP, unmatched-delta users INSERT, matched rows
    * UPDATE (counts add, last-state replaced) — unless the change batch's
    * final event for the user is an `error`, which is the DELETE marker:
    * the user's row leaves the table (tombstoned users who never existed
    * insert nothing). №105 scd2_intervals keeps the full history; this is
    * the companion CURRENT-STATE maintenance op.
    *
    * Scale shape: two map-side-combining per-user aggs (each reads only
    * its time slice — the predicates push to the scan) + ONE full-outer
    * equi-join on the merge key, hash-co-partitioned by AQE; nothing
    * broadcast, nothing corpus-sized on the driver. At 100 TB this is
    * exactly how a daily MERGE runs: the base is the table's own
    * key-partitioned layout, the delta a day's partition. */
  def cdcMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events
      .select($"event_id", $"user_id", $"event_type", $"ts_ms", $"ts_raw")
    def state(df: DataFrame): DataFrame = df
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), max($"ts_ms").as("last_ms"),
        max_by($"event_type", struct($"ts_ms", $"event_id")).as("last_type"))
    // slice predicates on the RAW column so they reach the scan (the
    // daily-MERGE read is a partition/time-slice read, never a full scan)
    val base = state(e.filter(Tables.tsBeforeMs(e, ExportQueries.T1)))
      .withColumnsRenamed(Map("n_events" -> "b_n", "last_ms" -> "b_ms", "last_type" -> "b_type"))
    val delta = state(e.filter(Tables.tsRangeMs(e, ExportQueries.T1, ExportQueries.T2)))
      .withColumnsRenamed(Map("n_events" -> "d_n", "last_ms" -> "d_ms", "last_type" -> "d_type"))
    base.join(delta, Seq("user_id"), "full_outer")
      .filter($"d_type".isNull || $"d_type" =!= "error") // DELETE marker: row leaves the table
      .select($"user_id",
        when($"d_n".isNull, lit("keep"))
          .when($"b_n".isNull, lit("insert"))
          .otherwise(lit("update")).as("op"),
        (coalesce($"b_n", lit(0L)) + coalesce($"d_n", lit(0L))).as("n_events"),
        coalesce($"d_ms", $"b_ms").as("last_ms"),
        coalesce($"d_type", $"b_type").as("last_type"))
      .orderBy($"user_id")
  }

  val cdcMergeSql: String = {
    val (t1, t2) = (ExportQueries.T1, ExportQueries.T2)
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
       |bc AS (SELECT user_id, count(*) AS b_n FROM e WHERE ms < $t1 GROUP BY user_id),
       |bl AS (
       |  SELECT user_id, ms AS b_ms, event_type AS b_type FROM e WHERE ms < $t1
       |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) = 1),
       |base AS (SELECT user_id, b_n, b_ms, b_type FROM bc JOIN bl USING (user_id)),
       |dc AS (SELECT user_id, count(*) AS d_n FROM e WHERE ms >= $t1 AND ms < $t2 GROUP BY user_id),
       |dl AS (
       |  SELECT user_id, ms AS d_ms, event_type AS d_type FROM e WHERE ms >= $t1 AND ms < $t2
       |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) = 1),
       |delta AS (SELECT user_id, d_n, d_ms, d_type FROM dc JOIN dl USING (user_id))
       |SELECT user_id,
       |  CASE WHEN d_n IS NULL THEN 'keep'
       |       WHEN b_n IS NULL THEN 'insert' ELSE 'update' END AS op,
       |  coalesce(b_n, 0) + coalesce(d_n, 0) AS n_events,
       |  coalesce(d_ms, b_ms) AS last_ms,
       |  coalesce(d_type, b_type) AS last_type
       |FROM base FULL JOIN delta USING (user_id)
       |WHERE d_type IS NULL OR d_type <> 'error'
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- №120 snapshot_diff
  /** Corpus-version DIFF (the data-versioning audit between two corpus
    * snapshots — what changed between yesterday's curated corpus and
    * today's, the table a lakehouse "time travel" comparison renders):
    * full-outer join the two versions on doc identity, classify each doc
    * by CONTENT HASH — `removed` (v1 only), `added` (v2 only), `changed`
    * (both, hash differs), `unchanged` — and roll up per-status counts
    * with id-range witnesses (min/max make the hash sensitive to a
    * misclassified doc, not just miscounted).
    *
    * v2 is constructed deterministically from the corpus in BOTH engines
    * (the dupCorpus ethos): docs ≡0 mod 13 dropped, surviving ≡0 mod 10
    * rewritten (+" v2"), new docs at +3e6 for ≡0 mod 17.
    *
    * Scale shape: ONE co-partitioned full-outer equi-join on doc_id
    * (cdc_merge's join discipline), comparing md5 content hashes — at
    * 100 TB the versions' (doc_id, content_hash) projections are the
    * join inputs, never the text; the rollup output is 4 rows however
    * large the corpus. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v1 = Tables(spark, dir).documents.select($"doc_id", md5($"text").as("h"))
    val base = Tables(spark, dir).documents.select($"doc_id", $"text")
    val v2 = base.filter($"doc_id" % 13 =!= 0)
      .select($"doc_id",
        md5(when($"doc_id" % 10 === 0, concat($"text", lit(" v2"))).otherwise($"text")).as("h"))
      .unionAll(base.filter($"doc_id" % 17 === 0)
        .select(($"doc_id" + 3000000L).as("doc_id"), md5(concat($"text", lit(" new"))).as("h")))
    v1.select($"doc_id", $"h".as("h1"))
      .join(v2.select($"doc_id", $"h".as("h2")), Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"h2".isNull, "removed")
          .when($"h1".isNull, "added")
          .when($"h1" =!= $"h2", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"status")
  }

  val snapshotDiffSql: String =
    s"""WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END) AS h
       |  FROM documents WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id, md5(text || ' new') AS h
       |  FROM documents WHERE doc_id % 17 = 0),
       |d AS (
       |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       |    CASE WHEN v2.h IS NULL THEN 'removed'
       |         WHEN v1.h IS NULL THEN 'added'
       |         WHEN v1.h <> v2.h THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id)
       |SELECT status, count(*) AS n_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM d GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- №163 value_quantile_sketch
  /** №158's dyadic quantile grid on the EVENT-VALUE domain — the
    * unbounded-cardinality case the sketch exists for: per-type cents
    * span [0, 2¹⁶) with ~18k DISTINCT values (vs №158's ~100 token
    * counts), exactly where the №124/№133 histogram formulation's
    * value-keyed hash agg stops being "domain-bounded" and the
    * constant-state grid (levels·depth·width counters per type, here
    * 16·3·64 = 3k longs) takes over. Same machinery, bigger levels dial
    * — the [[graft.functions.DyadicCountMin]] scaladoc's "levels tracks
    * the value domain" claim EXERCISED, not asserted.
    *
    * Estimate definition, one-sidedness (est ≤ exact, every row), and
    * the measured in-row error are №158's verbatim; candidates are the
    * present (type, cents) values (the est-rank read-out is still
    * data-bounded here — the full-domain read-out №62's scale path
    * demonstrates is the alternative when even distinct values are too
    * many). Targets: deciles + p99 per event type. */
  val VqLevels = 16 // cents domain [0, 65536)
  val VqDepth = 3
  val VqWidth = 256
  val VqMax: Int = (1 << VqLevels) - 1

  def valueQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.{TextQueries => TQ}
    // clamp BOTH ends and drop NULLs explicitly: the sketch's JVM update
    // clamps negatives to 0 and skips NULLs internally, so the exact-side
    // histogram (and the DuckDB oracle) must apply the identical domain
    // map or the pinned est ≤ exact / oracle equalities would silently
    // ride on a value ≥ 0 generator contract
    val vals = Tables(spark, dir).events
      .where($"value".isNotNull)
      .select($"event_type",
        greatest(least(expr("CAST(round(value * 100 + 0.000000001) AS BIGINT)"),
          lit(VqMax.toLong)), lit(0L)).as("v"))
    val hist = vals.groupBy($"event_type", $"v").agg(count(lit(1)).as("cnt"))
    val slots = vals.groupBy($"event_type")
      .agg(graft.functions.DyadicCountMin.sketch($"v", VqLevels, VqDepth, VqWidth).as("g"))
      .select($"event_type", posexplode($"g"))
      .select($"event_type", $"pos".cast("long").as("i"), $"col".as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = hist.groupBy($"event_type").agg(sum($"cnt").as("n_ev"))
    val cum = hist.withColumn("cum", sum($"cnt").over(w)).join(broadcast(tot), "event_type")
    // the slot hash depends on (v, l, d) only — compute each md5 ONCE per
    // distinct value (not once per (group, value): 5 types would otherwise
    // pay the probe hashing 5×; measured 5.0 → ~2.5s at sf0.1)
    val probes = hist.select($"v").distinct()
      .withColumn("l", explode(sequence(lit(0), lit(VqLevels - 1))))
      .filter(expr("(shiftright(v + 1, l) & 1) = 1"))
      .withColumn("idx", expr("shiftright(v + 1, l) - 1"))
      .withColumn("d", explode(sequence(lit(0), lit(VqDepth - 1))))
      .withColumn("i", expr(s"(l * $VqDepth + d) * $VqWidth + ${TQ.qsSlotExprW(VqWidth)}"))
      .select($"v", $"l", $"i")
    val er = cum.select($"event_type", $"v")
      .join(probes, "v")
      .join(broadcast(slots), Seq("event_type", "i"))
      .groupBy($"event_type", $"v", $"l").agg(min($"c").as("pq"))
      .groupBy($"event_type", $"v").agg(sum($"pq").as("er"))
    // er is bounded by the DISTINCT (type, cents) pairs — value-domain
    // data, not row data — so broadcasting it keeps the read-out tail
    // off the sort-merge path the captured plan otherwise shows
    val ranks = cum.join(broadcast(er), Seq("event_type", "v"), "left")
      .withColumn("est_rank",
        when($"v" === VqMax.toLong, $"n_ev").otherwise(coalesce($"er", lit(0L))))
    val aggs = TQ.QuantilePcts.flatMap(q => Seq(
      min(when(lit(100) * $"cum" >= lit(q) * $"n_ev", $"v")).as(s"x$q"),
      min(when(lit(100) * $"est_rank" >= lit(q) * $"n_ev", $"v")).as(s"e$q")))
    ranks.groupBy($"event_type").agg(aggs.head, aggs.tail: _*)
      .select($"event_type", expr(s"stack(${TQ.QuantilePcts.length}, " +
        TQ.QuantilePcts.map(q => s"$q, x$q, e$q").mkString(", ") +
        ") AS (pct, cents_exact, cents_est)"))
      .withColumn("err", $"cents_est" - $"cents_exact")
      .orderBy($"event_type", $"pct")
  }

  val valueQuantileSketchSql: String = {
    val slot = s"CAST(list_sum(list_transform(range(0, 15), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR) || '|' || CAST(l AS VARCHAR) || ':' || " +
      s"CAST(idx AS VARCHAR)), CAST(j + 1 AS INT), 1)) - 1) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) % $VqWidth"
    val pcts = graft.queries.TextQueries.QuantilePcts
    val mins = pcts.map(q =>
      s"min(CASE WHEN 100*cum >= $q*n_ev THEN v END) AS x$q,\n    " +
        s"min(CASE WHEN 100*est_rank >= $q*n_ev THEN v END) AS e$q").mkString(",\n    ")
    val unpivot = pcts
      .map(q => s"SELECT event_type, $q AS pct, x$q AS cents_exact, e$q AS cents_est FROM vq_a")
      .mkString("\n  UNION ALL ")
    s"""WITH vq_v AS (
       |  SELECT event_type,
       |    greatest(least(CAST(round(value * 100 + 0.000000001) AS BIGINT), $VqMax), 0) AS v
       |  FROM events WHERE value IS NOT NULL),
       |vq_h AS (SELECT event_type, v, count(*) AS cnt FROM vq_v GROUP BY 1, 2),
       |vq_n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_ev FROM vq_h GROUP BY event_type),
       |vq_lv AS (SELECT l FROM range(0, $VqLevels) t(l)),
       |vq_dd AS (SELECT d FROM range(0, $VqDepth) t(d)),
       |vq_g AS (
       |  SELECT event_type, l, d, $slot AS slot, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT event_type, l, v >> l AS idx, cnt FROM vq_h CROSS JOIN vq_lv)
       |  CROSS JOIN vq_dd GROUP BY 1, 2, 3, 4),
       |vq_c AS (
       |  SELECT event_type, v,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum
       |  FROM vq_h),
       |vq_dec AS (
       |  SELECT event_type, v, l, ((v + 1) >> l) - 1 AS idx
       |  FROM vq_c CROSS JOIN vq_lv WHERE ((v + 1) >> l) & 1 = 1),
       |vq_pq AS (
       |  SELECT dec.event_type, dec.v, dec.l, min(coalesce(g.c, 0)) AS pq
       |  FROM (SELECT event_type, v, l, idx, d, $slot AS slot
       |        FROM vq_dec CROSS JOIN vq_dd) dec
       |  LEFT JOIN vq_g g ON g.event_type = dec.event_type AND g.l = dec.l
       |    AND g.d = dec.d AND g.slot = dec.slot
       |  GROUP BY 1, 2, 3),
       |vq_er AS (SELECT event_type, v, CAST(sum(pq) AS BIGINT) AS er FROM vq_pq GROUP BY 1, 2),
       |vq_r AS (
       |  SELECT c.event_type, c.v, c.cum, n.n_ev,
       |    CASE WHEN c.v = $VqMax THEN n.n_ev ELSE coalesce(s.er, 0) END AS est_rank
       |  FROM vq_c c JOIN vq_n n USING (event_type)
       |  LEFT JOIN vq_er s ON s.event_type = c.event_type AND s.v = c.v),
       |vq_a AS (
       |  SELECT event_type, $mins
       |  FROM vq_r GROUP BY event_type)
       |SELECT event_type, pct, cents_exact, cents_est,
       |  cents_est - cents_exact AS err
       |FROM ($unpivot) ORDER BY event_type, pct""".stripMargin
  }

  // ---------------------------------------------------------------- №165 log_quantile_sketch
  /** №158/№163's dyadic quantile grid for UNBOUNDED / heavy-tailed value
    * domains — the case a linear grid cannot dial into: DyadicCountMin
    * caps at levels = 20, so any domain past 2²⁰ (dollar amounts,
    * latencies in µs, byte sizes) is out of reach of the direct
    * formulation. The standard fix (HDR-histogram / DDSketch public
    * layout) is a LOG-LINEAR bucket transform: octave e = ⌊log₂ v⌋ and a
    * linear sub-bucket of [[LqSub]] slices inside the octave, so
    * bucket = e·S + (v − 2ᵉ)·S ∕ 2ᵉ. The bucket domain for ALL of BIGINT
    * is e ≤ 62 ⇒ bucket ≤ 62·16+15 = 1007 < 2¹⁰ — a 10-level grid now
    * covers every positive 64-bit value, trading the value-domain
    * exactness for a bounded RELATIVE error ≤ 1/S per side from
    * bucketing (plus the grid's one-sided rank error).
    *
    * Everything stays integer-exact cross-engine: e is
    * `length(bin(v)) − 1` (binary-string length, no float log), the
    * sub-bucket is a shift (S = 16 = 2⁴), and the decode returns the
    * bucket's LOWER edge — so est ≤ exact holds in the VALUE domain too
    * (bucket() is monotone; the grid's est bucket ≤ exact bucket; the
    * lower edge ≤ every member). For octaves below S (e < 4) the
    * transform is lossless (sub-bucket stride 2^(4−e) decodes exactly).
    *
    * Input: a deterministic heavy-tail stretch of event cents
    * (amt = cents² ∕ 100 + 1, density ∝ 1/√x over ~2²⁶ distinct
    * magnitudes) — wide enough that the direct №163 grid could NOT hold
    * it at oracle-checkable width, which is the whole point. Output per
    * (event_type, pct): exact amount quantile, est bucket, its decoded
    * lower edge, and the measured relative error (one-sided ≥ 0,
    * ≤ 1/S + collision effect — measured, not asserted). */
  val LqSub = 16     // linear sub-buckets per octave (relative err ≤ 1/16)
  val LqSubBits = 4  // log2(LqSub): sub-bucket math is pure shifts
  val LqLevels = 10  // bucket ≤ 62·16+15 = 1007 < 2^10: ALL of BIGINT fits
  val LqDepth = 3
  val LqWidth = 256  // grid rank error small vs the 1/S bucketing term

  /** The heavy-tail stretch: value cents → amt ∈ [1, ~2²⁶). */
  private[graft] val LqAmtSql: String = {
    val cents = "greatest(least(CAST(round(value * 100 + 0.000000001) AS BIGINT), 65535), 0)"
    s"(($cents * $cents) DIV 100 + 1)"
  }

  /** The log-linear bucket of a positive BIGINT SQL expression `amt` —
    * ONE definition shared by the batch row and №168's streaming twin
    * (octave from binary-string length, shift-only sub-bucket). */
  private[graft] def logBucketSql(amt: String): String = {
    val e = s"(length(bin($amt)) - 1)"
    val p = s"shiftleft(CAST(1 AS BIGINT), $e)"
    s"(CAST($e AS BIGINT) * $LqSub + CASE WHEN $e >= $LqSubBits " +
      s"THEN shiftright(($amt) - $p, $e - $LqSubBits) " +
      s"ELSE shiftleft(($amt) - $p, $LqSubBits - $e) END)"
  }

  /** (event_type, amt, b) for the events table — the shared input frame. */
  private[graft] def logBucketVals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .where($"value".isNotNull)
      .select($"event_type", expr(LqAmtSql).as("amt"))
      .withColumn("b", expr(logBucketSql("amt")))
      .select($"event_type", $"amt", $"b")
  }

  def logQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = logBucketVals(spark, dir)
    val slots = vals.groupBy($"event_type")
      .agg(graft.functions.DyadicCountMin.sketch($"b", LqLevels, LqDepth, LqWidth).as("g"))
      .select($"event_type", posexplode($"g"))
      .select($"event_type", $"pos".cast("long").as("i"), $"col".as("c"))
    logQuantileFromSlots(spark, dir, slots)
  }

  /** Estimate + exact verify + decode from the flattened per-type grid
    * (event_type, i, c) — shared by the batch row (native-aggregate
    * slots) and №168's streaming twin (driver-summed shard grids), so
    * the read-out arithmetic cannot fork between the access paths. */
  private[graft] def logQuantileFromSlots(spark: SparkSession, dir: String,
      slots: DataFrame): DataFrame =
    logQuantileReadout(spark, logBucketVals(spark, dir), slots,
      "event_type", "event_type", graft.queries.TextQueries.QuantilePcts)

  /** The KEY-GENERIC form of the read-out: `vals` is (key, amt, b) — the
    * exact value rows the grid absorbed — and `slots` the flattened
    * per-key grid (key, i, c); returns (outKey, pct, amt_exact, b_est,
    * amt_est_lo, rel_err) per pct. Generic over the grouping key so №165
    * (per event_type), №168 (same key, streamed slots) and №171 (per
    * watermark WINDOW, accepted-set vals) all run this one definition —
    * the read-out arithmetic cannot fork across the access paths. */
  private[graft] def logQuantileReadout(spark: SparkSession, vals: DataFrame,
      slots: DataFrame, key: String, outKey: String, pcts: Seq[Int]): DataFrame = {
    import spark.implicits._
    import graft.queries.{TextQueries => TQ}
    val k = col(key)
    val hist = vals.groupBy(k, $"amt", $"b").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(k).orderBy($"amt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = hist.groupBy(k).agg(sum($"cnt").as("n_ev"))
    val cum = hist.withColumn("cum", sum($"cnt").over(w)).join(broadcast(tot), key)
    // №163's probe-dedup: the slot hash depends on (b, l, d) only
    val probes = hist.select($"b").distinct()
      .withColumn("l", explode(sequence(lit(0), lit(LqLevels - 1))))
      .filter(expr("(shiftright(b + 1, l) & 1) = 1"))
      .withColumn("idx", expr("shiftright(b + 1, l) - 1"))
      .withColumn("d", explode(sequence(lit(0), lit(LqDepth - 1))))
      .withColumn("i", expr(s"(l * $LqDepth + d) * $LqWidth + ${TQ.qsSlotExprW(LqWidth)}"))
      .select($"b", $"l", $"i")
    // no v = max special case (№163's clamp artifact): bucket + 1 ≤ 1008
    // < 2^levels, so the dyadic decomposition always stays inside the grid
    val er = cum.select(k, $"b").distinct()
      .join(probes, "b")
      .join(broadcast(slots), Seq(key, "i"))
      .groupBy(k, $"b", $"l").agg(min($"c").as("pq"))
      .groupBy(k, $"b").agg(sum($"pq").as("er"))
    // er ≤ 1008 buckets per key by construction — broadcast (see №163)
    val ranks = cum.join(broadcast(er), Seq(key, "b"), "left")
      .withColumn("est_rank", coalesce($"er", lit(0L)))
    val aggs = pcts.flatMap(q => Seq(
      min(when(lit(100) * $"cum" >= lit(q) * $"n_ev", $"amt")).as(s"x$q"),
      min(when(lit(100) * $"est_rank" >= lit(q) * $"n_ev", $"b")).as(s"e$q")))
    ranks.groupBy(k).agg(aggs.head, aggs.tail: _*)
      .select(k.as(outKey), expr(s"stack(${pcts.length}, " +
        pcts.map(q => s"$q, x$q, e$q").mkString(", ") +
        ") AS (pct, amt_exact, b_est)"))
      .withColumn("e2", expr(s"b_est DIV $LqSub"))
      .withColumn("amt_est_lo", expr(s"shiftleft(CAST(1 AS BIGINT), CAST(e2 AS INT)) + " +
        s"CASE WHEN e2 >= $LqSubBits THEN shiftleft(b_est % $LqSub, CAST(e2 AS INT) - $LqSubBits) " +
        s"ELSE shiftright(b_est % $LqSub, $LqSubBits - CAST(e2 AS INT)) END"))
      .select(col(outKey), $"pct", $"amt_exact", $"b_est", $"amt_est_lo",
        round(($"amt_exact" - $"amt_est_lo").cast("double") / $"amt_exact" + 1e-9, 6).as("rel_err"))
      .orderBy(col(outKey), $"pct")
  }

  val logQuantileSketchSql: String = {
    val slot = s"CAST(list_sum(list_transform(range(0, 15), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR) || '|' || CAST(l AS VARCHAR) || ':' || " +
      s"CAST(idx AS VARCHAR)), CAST(j + 1 AS INT), 1)) - 1) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) AS BIGINT) % $LqWidth"
    val pcts = graft.queries.TextQueries.QuantilePcts
    val mins = pcts.map(q =>
      s"min(CASE WHEN 100*cum >= $q*n_ev THEN amt END) AS x$q,\n    " +
        s"min(CASE WHEN 100*est_rank >= $q*n_ev THEN b END) AS e$q").mkString(",\n    ")
    val unpivot = pcts
      .map(q => s"SELECT event_type, $q AS pct, x$q AS amt_exact, e$q AS b_est FROM lq_a")
      .mkString("\n  UNION ALL ")
    s"""WITH lq_c AS (
       |  SELECT event_type,
       |    greatest(least(CAST(round(value * 100 + 0.000000001) AS BIGINT), 65535), 0) AS c
       |  FROM events WHERE value IS NOT NULL),
       |lq_v AS (
       |  SELECT event_type, amt,
       |    CAST(length(bin(amt)) - 1 AS BIGINT) AS e,
       |    CAST(1 AS BIGINT) << CAST(length(bin(amt)) - 1 AS INT) AS p
       |  FROM (SELECT event_type, (c * c) // 100 + 1 AS amt FROM lq_c)),
       |lq_b AS (
       |  SELECT event_type, amt,
       |    e * $LqSub + CASE WHEN e >= $LqSubBits
       |      THEN (amt - p) >> CAST(e - $LqSubBits AS INT)
       |      ELSE (amt - p) << CAST($LqSubBits - e AS INT) END AS b
       |  FROM lq_v),
       |lq_h AS (SELECT event_type, amt, b, count(*) AS cnt FROM lq_b GROUP BY 1, 2, 3),
       |lq_n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_ev FROM lq_h GROUP BY event_type),
       |lq_lv AS (SELECT l FROM range(0, $LqLevels) t(l)),
       |lq_dd AS (SELECT d FROM range(0, $LqDepth) t(d)),
       |lq_g AS (
       |  SELECT event_type, l, d, $slot AS slot, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT event_type, l, b >> CAST(l AS INT) AS idx, cnt FROM lq_h CROSS JOIN lq_lv)
       |  CROSS JOIN lq_dd GROUP BY 1, 2, 3, 4),
       |lq_cum AS (
       |  SELECT event_type, amt, b,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY amt) AS BIGINT) AS cum
       |  FROM lq_h),
       |lq_db AS (SELECT DISTINCT event_type, b FROM lq_h),
       |lq_dec AS (
       |  SELECT event_type, b, l, ((b + 1) >> CAST(l AS INT)) - 1 AS idx
       |  FROM lq_db CROSS JOIN lq_lv WHERE ((b + 1) >> CAST(l AS INT)) & 1 = 1),
       |lq_pq AS (
       |  SELECT dec.event_type, dec.b, dec.l, min(coalesce(g.c, 0)) AS pq
       |  FROM (SELECT event_type, b, l, idx, d, $slot AS slot
       |        FROM lq_dec CROSS JOIN lq_dd) dec
       |  LEFT JOIN lq_g g ON g.event_type = dec.event_type AND g.l = dec.l
       |    AND g.d = dec.d AND g.slot = dec.slot
       |  GROUP BY 1, 2, 3),
       |lq_er AS (SELECT event_type, b, CAST(sum(pq) AS BIGINT) AS er FROM lq_pq GROUP BY 1, 2),
       |lq_r AS (
       |  SELECT c.event_type, c.amt, c.b, c.cum, n.n_ev, coalesce(s.er, 0) AS est_rank
       |  FROM lq_cum c JOIN lq_n n USING (event_type)
       |  LEFT JOIN lq_er s ON s.event_type = c.event_type AND s.b = c.b),
       |lq_a AS (
       |  SELECT event_type, $mins
       |  FROM lq_r GROUP BY event_type),
       |lq_out AS (
       |  SELECT event_type, pct, amt_exact, b_est, b_est // $LqSub AS e2 FROM ($unpivot))
       |SELECT event_type, pct, amt_exact, b_est,
       |  (CAST(1 AS BIGINT) << CAST(e2 AS INT)) + CASE WHEN e2 >= $LqSubBits
       |    THEN (b_est % $LqSub) << CAST(e2 - $LqSubBits AS INT)
       |    ELSE (b_est % $LqSub) >> CAST($LqSubBits - e2 AS INT) END AS amt_est_lo,
       |  round(CAST(amt_exact - ((CAST(1 AS BIGINT) << CAST(e2 AS INT)) + CASE WHEN e2 >= $LqSubBits
       |    THEN (b_est % $LqSub) << CAST(e2 - $LqSubBits AS INT)
       |    ELSE (b_est % $LqSub) >> CAST($LqSubBits - e2 AS INT) END) AS DOUBLE) / amt_exact
       |    + 0.000000001, 6) AS rel_err
       |FROM lq_out ORDER BY event_type, pct""".stripMargin
  }
}
