package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.StreamingOps

/** The streaming operators exercised in batch mode against DuckDB
  * oracles: Spark executes the same stateful/windowed plans over a
  * bounded input, which makes the semantics oracle-checkable
  * (gaps-and-islands SQL for sessionization; slide-enumeration for
  * sliding windows). The streaming-mode behavior of the same operators
  * is covered by StreamingSpec with a MemoryStream.
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  val GapMs: Long = 30L * 60 * 1000 // 30 min session gap

  val queries: Map[String, Q] = Map(
    // Gap-based sessionization (flatMapGroupsWithState in batch).
    // Sentinel events one day past each user's last event flush the
    // final open sessions; sentinels themselves stay in state.
    "stream_sessionize" -> ((spark, dir) => {
      import spark.implicits._
      // null-ts events cannot be placed on the session timeline →
      // dropped; a null value still counts as activity with 0 mass
      // (the typed Ev's primitive Double would otherwise abort with
      // NOT_NULL_ASSERT_VIOLATION on the first dirty row — found by
      // EventsDirtySpec). The oracle mirrors both choices.
      val ev = Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          coalesce(col("value"), lit(0.0)).as("value"))
      val sentinels = ev.groupBy("user_id")
        .agg(max(col("ts")).as("mx"))
        .select(col("user_id"),
          (col("mx") + expr("INTERVAL 1 DAY")).as("ts"),
          lit("__flush").as("event_type"), lit(0.0).as("value"))
      val evs = ev.unionByName(sentinels).as[StreamingOps.Ev]
      StreamingOps.sessionize(evs, GapMs).toDF()
        .select(
          col("user_id"),
          unix_timestamp(col("start_ts")).as("start_s"),
          unix_timestamp(col("end_ts")).as("end_s"),
          col("n_events").cast("long").as("n_events"),
          round(col("total_value"), 4).as("total_value"))
    }),

    // Identical sessionization on the MODERN state API (Spark 4
    // transformWithState + StatefulProcessor + typed ValueState) —
    // same sentinel flush, same gaps-and-islands oracle, so the two
    // state surfaces are pinned to the identical relation.
    "stream_tws_sessionize" -> ((spark, dir) => {
      import spark.implicits._
      // null-ts events cannot be placed on the session timeline →
      // dropped; a null value still counts as activity with 0 mass
      // (the typed Ev's primitive Double would otherwise abort with
      // NOT_NULL_ASSERT_VIOLATION on the first dirty row — found by
      // EventsDirtySpec). The oracle mirrors both choices.
      val ev = Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"),
          coalesce(col("value"), lit(0.0)).as("value"))
      val sentinels = ev.groupBy("user_id")
        .agg(max(col("ts")).as("mx"))
        .select(col("user_id"),
          (col("mx") + expr("INTERVAL 1 DAY")).as("ts"),
          lit("__flush").as("event_type"), lit(0.0).as("value"))
      val evs = ev.unionByName(sentinels).as[StreamingOps.Ev]
      StreamingOps.sessionizeTws(evs, GapMs).toDF()
        .select(
          col("user_id"),
          unix_timestamp(col("start_ts")).as("start_s"),
          unix_timestamp(col("end_ts")).as("end_s"),
          col("n_events").cast("long").as("n_events"),
          round(col("total_value"), 4).as("total_value"))
    }),

    // Interval join in batch mode: purchases within 10 min of a click
    // by the same user.
    "stream_interval_join" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
      StreamingOps.clicksToPurchases(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"),
        withinSeconds = 600)
        .select(
          col("user_id"),
          unix_timestamp(col("click_ts")).as("click_s"),
          unix_timestamp(col("purchase_ts")).as("purchase_s"),
          col("purchase_value"))
    }),

    // LEFT OUTER stream-stream interval join: clicks with no purchase
    // in the window surface with nulls — streaming-legal because the
    // watermark + time-range pair lets the engine prove a click's
    // window has closed before emitting its null row.
    "stream_interval_outer" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
      StreamingOps.clicksToPurchases(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"),
        withinSeconds = 600, joinType = "left_outer")
        .select(
          col("user_id"),
          unix_timestamp(col("click_ts")).as("click_s"),
          unix_timestamp(col("purchase_ts")).as("purchase_s"),
          col("purchase_value"))
    }),

    // Native session windows (session_window groupBy) — the built-in
    // engine counterpart of the custom-state sessionize above; both
    // run streaming-or-batch. 30-min gap, same session grain.
    "stream_session_window" -> ((spark, dir) => {
      Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
        .select(
          col("user_id"),
          unix_timestamp(col("session_window.start")).as("start_s"),
          col("n_events"), col("total_value"))
    }),

    // Stream-static join: the unbounded event stream enriched by a
    // broadcast dimension (the canonical streaming-ETL shape — the
    // static side is re-broadcast per micro-batch, no stream state).
    // Batch mode runs the identical plan; StreamingSpec drives the
    // MemoryStream version.
    "stream_static_join" -> ((spark, dir) => {
      StreamingOps.enrichWithStatic(
        Tables.events(spark, dir),
        Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id"), col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("total_value"))
    }),

    // Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark
    // holds per-key state only until the watermark passes it — the
    // bounded-memory form a 100 TB-per-day stream needs (plain
    // dropDuplicates grows state forever). Runs as a REAL file-source
    // stream drained through an AvailableNow memory sink (the operator
    // rejects batch plans); one AvailableNow pass dedups every key, so
    // the oracle is exact key distinct. State-eviction/re-admission
    // semantics are pinned on a RocksDB-backed stream in StreamingSpec.
    // Output restricted to the key columns so the kept representative
    // is engine-deterministic.
    // Streaming CDC apply over a REAL file-source change stream:
    // user_id%100 keys, 'error' events as deletes, last-write-wins by
    // the total (epoch s, event_id) seq. Complete-mode drain exposes
    // the final state table — the materialized view a CDC consumer
    // maintains. State is one row per live key.
    "stream_cdc_apply" -> ((spark, dir) => {
      val drainSession = StreamingOps.statefulDrainSession(spark)
      val s = StreamingOps.eventsStream(drainSession, dir)
        .select((col("user_id") % 100).as("k"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value").as("payload"),
          unix_timestamp(col("ts")).as("s"), col("event_id"))
      StreamingOps.runAvailableNowComplete(
        StreamingOps.cdcApply(s, col("k"),
          struct(col("s"), col("event_id")), col("op"), col("payload")),
        "cdc_apply")
    }),

    "stream_dropdup_watermark" -> ((spark, dir) => {
      val drainSession = StreamingOps.statefulDrainSession(spark)
      val s = StreamingOps.eventsStream(drainSession, dir)
        .select(col("ts"), col("user_id"), col("event_type"))
      StreamingOps.runAvailableNow(
        StreamingOps.dedupWithinWatermark(s, "ts", "10 minutes",
            Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type")),
        "dropdup_wm")
    }),

    // Trending detection: top-3 event types per tumbling 10-minute
    // window by count — the windowed-heavy-hitters shape a streaming
    // trend monitor runs (same transform works under readStream +
    // watermark; the rank rides the TopKPerKey rewrite, partitions
    // bounded by |types| per window).
    "stream_trending_topk" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.events(spark, dir)
        // time-windowed trending is time-ordered analytics: a null-ts
        // event has no window on either engine. Null event_type is
        // excluded too (per-type report contract) — and it would sit
        // on the rank tie-break, where the engines order nulls at
        // opposite ends.
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(window(col("ts"), "10 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          col("event_type"), col("n"))
      val w = Window.partitionBy(col("win_start_s"))
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("win_start_s"), col("rank").cast("long").as("rank"),
          col("event_type"), col("n"))
    }),

    // Sliding event-time windows (10 min window, 5 min slide).
    "stream_windowed_counts" -> ((spark, dir) => {
      StreamingOps.windowedTypeCounts(
        Tables.events(spark, dir), "10 minutes", "5 minutes", "15 minutes")
        .select(
          unix_timestamp(col("window_start")).as("win_start_s"),
          col("event_type"), col("n_events"), col("total_value"))
    })
  )

  // Gaps-and-islands rebuild shared by BOTH custom-state sessionizers
  // (flatMapGroupsWithState and transformWithState): session breaks
  // where the gap to the previous event exceeds GapMs; µs timestamps
  // to match Spark.
  private val sessionizeSql: String =
    s"""WITH e AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    coalesce(value, 0) AS value
         |  FROM events WHERE ts IS NOT NULL
         |), flagged AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > $GapMs
         |    THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), grouped AS (
         |  SELECT user_id, ts, value,
         |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM flagged
         |)
         |SELECT user_id,
         |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
         |  CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
         |  count(*) AS n_events,
         |  round(sum(value), 4) AS total_value
         |FROM grouped GROUP BY user_id, session_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "stream_sessionize" -> sessionizeSql,
    "stream_tws_sessionize" -> sessionizeSql,

    // session_window merges OVERLAPPING [ts, ts+gap) intervals, so the
    // break condition is diff >= gap (vs the strict > of the
    // custom-state sessionize).
    "stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |  WHERE ts IS NOT NULL
        |), flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), grouped AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
        |  count(*) AS n_events,
        |  round(sum(value), 4) AS total_value
        |FROM grouped GROUP BY user_id, sid""".stripMargin,

    "stream_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts FROM events
        |  WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id,
        |  CAST(floor(epoch(click_ts)) AS BIGINT) AS click_s,
        |  CAST(floor(epoch(purchase_ts)) AS BIGINT) AS purchase_s,
        |  round(value, 4) AS purchase_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND purchase_ts >= click_ts
        |  AND purchase_ts <= click_ts + INTERVAL 600 SECONDS""".stripMargin,

    "stream_interval_outer" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts FROM events
        |  WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id,
        |  CAST(floor(epoch(click_ts)) AS BIGINT) AS click_s,
        |  CAST(floor(epoch(purchase_ts)) AS BIGINT) AS purchase_s,
        |  round(value, 4) AS purchase_value
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND purchase_ts >= click_ts
        |  AND purchase_ts <= click_ts + INTERVAL 600 SECONDS""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // Each event lands in exactly two 10-min/5-min-slide windows:
    // starts at floor(ts/5min)*5min and 5 min before it.
    "stream_dropdup_watermark" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // Batch twin of the streaming CDC materializer: argmax by the
    // same total (s, event_id) seq, deletes filtered from the view.
    "stream_cdc_apply" ->
      """WITH c AS (
        |  SELECT user_id % 100 AS k,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value AS payload,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |    event_id
        |  FROM events
        |), last AS (
        |  SELECT k, op, payload FROM (
        |    SELECT k, op, payload,
        |      row_number() OVER (PARTITION BY k
        |        ORDER BY s DESC, event_id DESC) AS rn
        |    FROM c
        |  ) WHERE rn = 1
        |)
        |SELECT k, payload FROM last WHERE op <> 'D'""".stripMargin,

    "stream_trending_topk" ->
      """WITH c AS (
        |  SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT)
        |    AS win_start_s, event_type, count(*) AS n
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT win_start_s, rank, event_type, n FROM (
        |  SELECT win_start_s, event_type, n,
        |    row_number() OVER (
        |      PARTITION BY win_start_s ORDER BY n DESC, event_type) AS rank
        |  FROM c
        |) WHERE rank <= 3""".stripMargin,

    "stream_windowed_counts" ->
      """WITH e AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
        |  WHERE ts IS NOT NULL
        |), expanded AS (
        |  SELECT CAST(floor(epoch(ts) / 300) * 300 - s.off AS BIGINT) AS win_start_s,
        |    event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 300]) AS off) s
        |)
        |SELECT win_start_s, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM expanded GROUP BY 1, 2""".stripMargin
  )
}
