package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.EventTime
import graft.core.Tables.t

/** Event-stream (batch) queries over the `events` table: JSON prop
  * extraction, event-time windowed aggregation, and gap-based
  * sessionization — the batch duals of graft.streaming's structured-
  * streaming operators (same logical shapes, verifiable via the DuckDB
  * oracle; streaming variants can't be oracle-checked so they get specs).
  *
  * `events.ts` physical type varies by testdata generation (legacy
  * nanos-as-long vs plain timestamp[us]) — ALL access goes through the
  * schema-adaptive core.EventTime accessors, which normalize to the µs
  * domain DuckDB compares in (see that object's scaladoc).
  */
object Events {

  type Q = (SparkSession, String) => DataFrame

  /** Per-call memory-sink name: a FIXED queryName would make a second
    * concurrent same-session invocation throw ("query ... is already
    * active") despite the hardened staging (round-11 review). Each
    * sink's temp view is registered on the per-call ISOLATED session
    * clone Streams.withStatePartitions hands the body, so superseded
    * result sets die with their throwaway clone instead of
    * accumulating in the parent catalog (round-11 advice). */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def sinkName(tag: String): String =
    s"graft_${tag}_sink_c${sinkCounter.incrementAndGet()}"

  /** E1: JSON property extraction — get_json_object over the `props` JSON
    * string column + aggregate by extracted value bucket. */
  val e1JsonProps: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("cnt"), avg("value").as("avg_value"))
      .orderBy("k_bucket")

  /** E2: event-time windowed aggregation — tumbling 1-hour windows per
    * event_type (batch dual of a streaming window agg; the streaming
    * variant adds a watermark). */
  val e2HourlyAgg: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    ev.groupBy(date_trunc("hour", EventTime.tsTimestamp(ev)).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** E3: gap-based sessionization — a new session starts after a >30 min
    * silence per user (lag window + running sum), then per-user session
    * stats. The batch dual of mapGroupsWithState sessionization.
    * Gaps are computed on µs-TRUNCATED timestamps (ts div 1000), the same
    * domain DuckDB compares after its TIMESTAMP(NANOS)→µs truncation — a
    * raw-ns gap in (30min, 30min+999ns] would otherwise flip a session
    * boundary between the engines. */
  val e3Sessions: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val ev = t(s, dir, "events")
    ev.select(col("user_id"), EventTime.tsMicros(ev).as("ts_us"), col("value"))
      .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (col("ts_us") - col("prev_ts")) > lit(30L * 60 * 1000000L), 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id")
      .agg(max("sess_id").as("n_sessions"),
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"))
      .orderBy("user_id")
  }

  /** E4: per-type daily pivot — event counts per day wide by type
    * (U5 pivot shape on event-time). */
  val e4DailyPivot: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    ev.groupBy(to_date(date_trunc("day", EventTime.tsTimestamp(ev))).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .orderBy("day")
  }

  /** E5: the e2 hourly aggregation executed as a STRUCTURED STREAM —
    * events staged to a stream directory, read with readStream, windowed
    * through streaming.Streams.hourlyCounts (watermarked event-time
    * window), Trigger.AvailableNow into a memory sink, result returned
    * as a DataFrame. APPEND output mode (same posture as e10, round 9):
    * each window emits once when the watermark passes its end and its
    * state is evicted — bounded state for a continuous deployment, where
    * complete mode would retain and re-emit every window forever. Oracle
    * = e2's hourly agg restricted to watermark-closed windows (end <=
    * max-event-ms − 2 h; boundary pinned by StreamsSpec). */
  val e5StreamHourly: Q = (s, dir) => {
    val src = t(s, dir, "events")
    // deterministic staging path per (source dir, JVM): repeated calls
    // in one process reuse one copy; the helper adds the pid key +
    // _SUCCESS completeness + lock (round-11 review hardening)
    val streamDir = graft.streaming.Streams.stageForReplay(src,
      s"events-${graft.core.Tables.sourceFingerprint(s"$dir/events.parquet")}",
      shape = "nat")
    val name = sinkName("e5")
    graft.streaming.Streams.withStatePartitions(s) { iso =>
      val stream = EventTime.withTsTimestamp(
        iso.readStream.schema(src.schema).parquet(streamDir))
      val q = graft.streaming.Streams.hourlyCounts(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      iso.table(name)
        .select(col("hour"), col("event_type"), col("n_events"),
          col("sum_value"))
        .orderBy("hour", "event_type")
    }
  }

  /** E6: STREAMING sessionization inside the oracle gate — events staged
    * to a single-file stream dir (one AvailableNow micro-batch, so the
    * stateful operator sees globally ts-ordered input per user exactly
    * like the batch dual), run through Streams.sessionize
    * (flatMapGroupsWithState), CLOSED sessions collected from a memory
    * sink. The oracle is e3's gap logic grouped per session, minus each
    * user's final (still-open) session — precisely what Append-mode
    * emission produces. Timestamps flow in the µs domain end-to-end
    * (same truncation rationale as e3). */
  val e6StreamSessions: Q = (s, dir) => {
    val src = t(s, dir, "events")
    val streamDir = graft.streaming.Streams.stageForReplay(src.coalesce(1),
      s"sess-${graft.core.Tables.sourceFingerprint(s"$dir/events.parquet")}",
      shape = "c1")
    val name = sinkName("e6")
    graft.streaming.Streams.withStatePartitions(s) { iso =>
      import iso.implicits._
      val raw = iso.readStream.schema(src.schema).parquet(streamDir)
      val stream = raw
        .select(col("user_id"), EventTime.tsMicros(raw).as("ts"), col("value"))
        .as[graft.streaming.Streams.Ev]
      val sessions =
        graft.streaming.Streams.sessionize(stream, gap = 30L * 60 * 1000000L)
      val q = sessions.toDF().writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      iso.table(name)
        .select(col("user_id"), col("start_ts").as("start_us"),
          col("end_ts").as("end_us"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "start_us")
    }
  }

  /** E7: Spark's NATIVE session_window — the declarative form of e3's
    * hand-built gaps-and-islands (one groupBy, merge-able session state;
    * also the building block of streaming session aggs). Semantics: a
    * session's end = last event + gap, and an event at exactly the end
    * boundary starts a NEW session (windows are [start, end)) — the
    * oracle mirrors with a >= gap test, vs e3's strict >. */
  val e7SessionWindow: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    ev.select(col("user_id"), EventTime.tsTimestamp(ev).as("ts"), col("value"))
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Replay micro-batch size of [[e8StreamJoin]] — the arrival count a
    * production trigger would see. State per batch ≈ this plus the 2 h
    * look-back window, independent of corpus size; the 64-file clamp
    * only bounds the REPLAY's file count (a real stream has no such
    * cap — its batch count is its uptime). */
  private val e8BatchRows = 250000L

  /** E8: STREAM-STREAM inner join inside the oracle gate — click→purchase
    * attribution: each click joins the same user's purchases within the
    * following hour. Both sides are watermarked streams over the staged
    * events dir; the time-range condition lets Spark bound the join state
    * (state eviction = watermark + range, THE scale mechanism for
    * stream-stream joins). The staged replay is EVENT-TIME-ORDERED
    * multi-batch (stageForOrderedReplay + maxFilesPerTrigger(1)) at a
    * FIXED BATCH SIZE — production's posture (a streaming job sees a
    * bounded arrival count per trigger, so batch COUNT grows with the
    * corpus while state stays O(batch + look-back window)) — so that
    * eviction actually RUNS: a single-batch replay never advances the
    * watermark mid-batch and holds both inputs fully in state — the
    * round-20 sf10 sweep measured that shape at 275 s vs 107 s for the
    * bounded-state replay of the same data. Ordered batches also make
    * the multi-batch output exactly the batch join (no late data can
    * exist; the 2 h watermark's slack over the 1 h range keeps every
    * cross-batch match alive) — which is exactly the oracle. Small
    * corpora (≤ [[e8BatchRows]]) stay single-batch, where batch and
    * corpus coincide. */
  val e8StreamJoin: Q = (s, dir) => {
    val src = t(s, dir, "events")
    val nFiles = math.min(64L, math.max(1L,
      (src.count() + e8BatchRows - 1) / e8BatchRows)).toInt
    val streamDir = graft.streaming.Streams.stageForOrderedReplay(src,
      s"sess-${graft.core.Tables.sourceFingerprint(s"$dir/events.parquet")}",
      "ts", nFiles)
    val name = sinkName("e8")
    graft.streaming.Streams.withStatePartitions(s) { iso =>
      def stream = EventTime.withTsTimestamp(
        iso.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purch_ts"),
          col("value").as("purch_val"))
        .withWatermark("purch_ts", "2 hours")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purch_ts") >= col("click_ts") &&
          col("purch_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_ts"), col("purch_ts"),
          col("purch_val"))
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      iso.table(name).orderBy("user_id", "click_ts", "purch_ts")
    }
  }

  /** E9: STREAMING deduplication — dropDuplicatesWithinWatermark on
    * (user_id, hour): state holds one entry per key only until the
    * watermark passes (THE bounded-state dedup for at-least-once
    * sources; plain dropDuplicates would grow state forever). Output is
    * restricted to the dedup keys themselves: which ROW of a duplicate
    * group survives is explicitly undefined, so the contract — and the
    * oracle — is the distinct key set. */
  val e9StreamDedup: Q = (s, dir) => {
    val src = t(s, dir, "events")
    val streamDir = graft.streaming.Streams.stageForReplay(src,
      s"events-${graft.core.Tables.sourceFingerprint(s"$dir/events.parquet")}",
      shape = "nat")
    val name = sinkName("e9")
    graft.streaming.Streams.withStatePartitions(s) { iso =>
      val deduped = EventTime.withTsTimestamp(
          iso.readStream.schema(src.schema).parquet(streamDir))
        .withWatermark("ts", "2 hours")
        .withColumn("hour", date_trunc("hour", col("ts")))
        .dropDuplicatesWithinWatermark("user_id", "hour")
        .select(col("user_id"), col("hour"))
      val q = deduped.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      iso.table(name).orderBy("user_id", "hour")
    }
  }

  /** E10: STREAM-STATIC enrichment join — the third streaming join shape
    * after stream-stream (e8) and streaming dedup (e9): each micro-batch
    * of the event stream joins a STATIC dimension (customer segment by
    * key), then flows into a watermarked hourly window per segment. The
    * static side needs no watermark and holds NO state — it is planned
    * as a broadcast hash join against every micro-batch, which is the
    * 100 TB posture for dimension enrichment (a big dimension degrades
    * to a per-batch shuffle join; state cost stays zero either way —
    * only the downstream window agg is stateful). Inner join doubles as
    * the referential filter: events with user_id beyond the customer
    * keyspace drop out, mirrored by the oracle's inner join.
    *
    * Output mode is APPEND (round-8 verdict item): each window row is
    * emitted exactly once when the watermark passes its end, and its
    * state is evicted — state stays bounded by (windows within the
    * watermark horizon × segments), the continuous-deployment posture;
    * `complete` mode would re-emit and retain every window forever.
    * Consequence the oracle mirrors: windows NOT yet closed by the final
    * watermark (wm = max event time in ms − 2 h; Spark evicts windows
    * with end ≤ wm, verified in StreamsSpec) are never emitted — under
    * AvailableNow the trailing ~3 hours of windows stay open. */
  val e10StreamEnrich: Q = (s, dir) => {
    val src = t(s, dir, "events")
    val streamDir = graft.streaming.Streams.stageForReplay(src,
      s"events-${graft.core.Tables.sourceFingerprint(s"$dir/events.parquet")}",
      shape = "nat")
    val name = sinkName("e10")
    graft.streaming.Streams.withStatePartitions(s) { iso =>
      val dim = t(iso, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = EventTime.withTsTimestamp(
          iso.readStream.schema(src.schema).parquet(streamDir))
        .withWatermark("ts", "2 hours")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
      val agg = enriched
        .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
        .select(col("window.start").as("hour"), col("c_mktsegment"),
          col("n_events"), col("sum_value"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      iso.table(name).orderBy("hour", "c_mktsegment")
    }
  }

  val queries: Map[String, Q] = Map(
    "e1_json_props" -> e1JsonProps,
    "e2_hourly_agg" -> e2HourlyAgg,
    "e3_sessions" -> e3Sessions,
    "e4_daily_pivot" -> e4DailyPivot,
    "e5_stream_hourly" -> e5StreamHourly,
    "e6_stream_sessions" -> e6StreamSessions,
    "e7_session_window" -> e7SessionWindow,
    "e8_stream_join" -> e8StreamJoin,
    "e9_stream_dedup" -> e9StreamDedup,
    "e10_stream_enrich" -> e10StreamEnrich,
  )

  val oracle: Map[String, String] = Map(
    "e1_json_props" ->
      """SELECT CAST(FLOOR(CAST(props->>'k' AS INT) / 10) AS INT) AS k_bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt, AVG(value) AS avg_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "e2_hourly_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // batch dual of the stream-static enrichment: inner join to the
    // customer dimension, hourly window per segment. APPEND-mode dual:
    // only windows CLOSED by the stream's final watermark appear — wm =
    // (max event time in ms) − 2 h over ALL events (the watermark sits
    // before the join), a window emits when its end <= wm (boundary
    // pinned by StreamsSpec). epoch_us arithmetic mirrors Spark's
    // ms-granularity watermark exactly.
    "e10_stream_enrich" ->
      """WITH m AS (
           SELECT ((epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000)
                   - 2*3600*1000) * 1000 AS wm_us
           FROM events)
         SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS hour,
         c.c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_events, SUM(e.value) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2
         HAVING epoch_us(hour) + 3600000000::BIGINT <= (SELECT wm_us FROM m)
         ORDER BY 1, 2""",
    "e3_sessions" ->
      """WITH w AS (
           SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
           FROM events),
         f AS (
           SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
               OR epoch_us(ts) - epoch_us(prev_ts) > 30*60*1000000
               THEN 1 ELSE 0 END AS new_sess
           FROM w),
         s AS (
           SELECT user_id, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM f)
         SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS sum_value
         FROM s GROUP BY 1 ORDER BY 1""",
    // e2's hourly agg under APPEND-mode emission: only windows closed by
    // the final watermark (max event ms − 2 h; end <= wm, StreamsSpec)
    "e5_stream_hourly" ->
      """WITH m AS (
           SELECT ((epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000)
                   - 2*3600*1000) * 1000 AS wm_us
           FROM events)
         SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS sum_value
         FROM events GROUP BY 1, 2
         HAVING epoch_us(hour) + 3600000000::BIGINT <= (SELECT wm_us FROM m)
         ORDER BY 1, 2""",
    "e9_stream_dedup" ->
      """SELECT DISTINCT user_id,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
         FROM events ORDER BY 1, 2""",
    "e8_stream_join" ->
      """SELECT c.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
         CAST(p.ts AS TIMESTAMP) AS purch_ts, p.value AS purch_val
         FROM events c JOIN events p
           ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
           AND CAST(p.ts AS TIMESTAMP)
             <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
         ORDER BY 1, 2, 3""",
    "e7_session_window" ->
      """WITH w AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
         f AS (
           SELECT user_id, t, value,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
               OR epoch_us(t) - epoch_us(lag(t) OVER (PARTITION BY user_id
                 ORDER BY t)) >= 30*60*1000000
               THEN 1 ELSE 0 END AS new_sess
           FROM w),
         s AS (
           SELECT user_id, t, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM f)
         SELECT user_id, MIN(t) AS session_start,
           MAX(t) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS sum_value
         FROM s GROUP BY user_id, sess_id
         ORDER BY user_id, session_start""",
    // e3's session assignment, grouped per (user, session); a user's LAST
    // session is still open in the stream's state and never emitted under
    // Append, so the oracle excludes each user's max sess_id.
    "e6_stream_sessions" ->
      """WITH w AS (
           SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
           FROM events),
         f AS (
           SELECT user_id, ts_us, value,
             CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                 IS NULL
               OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                 > 30*60*1000000
               THEN 1 ELSE 0 END AS new_sess
           FROM w),
         s AS (
           SELECT user_id, ts_us, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM f),
         g AS (
           SELECT user_id, sess_id,
             MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events, SUM(value) AS sum_value
           FROM s GROUP BY 1, 2),
         m AS (SELECT user_id, MAX(sess_id) AS open_sess FROM g GROUP BY 1)
         SELECT g.user_id, g.start_us, g.end_us, g.n_events, g.sum_value
         FROM g JOIN m ON g.user_id = m.user_id AND g.sess_id < m.open_sess
         ORDER BY g.user_id, g.start_us""",
    "e4_daily_pivot" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM events GROUP BY 1 ORDER BY 1""",
  )
}
