package graft.queries

import graft.QueryGroup
import graft.operators.{Dedup, PatternNFA}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time group windows, deduplication, and CEP over the `events`
  * table (SURVEY.md §2.4 window agg, §2.6 dedup, §2.9 MATCH_RECOGNIZE).
  *
  * Batch forms here share semantics with the streaming operators (the
  * streaming variants with watermarks live in graft.streaming and are
  * exercised by ScalaTest harnesses); the driver's oracle checks the
  * window assignment logic itself.
  */
object GroupWindows extends QueryGroup {

  private val dec18_2 = DecimalType(18, 2)

  override def queries = Seq(

    // TUMBLE(1 hour) — window() group agg; window start/end exposed
    // like TUMBLE_START/TUMBLE_END (SURVEY §2.8 aux functions).
    q("gw1_tumble",
      """SELECT date_trunc('hour', ts) AS wstart,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
        .select(
          col("window.start").as("wstart"), col("window.end").as("wend"),
          col("event_type"), col("n"), col("total"))
        .orderBy("wstart", "event_type")
    },

    // HOP(size 1 hour, slide 30 min) — each event lands in 2 windows.
    q("gw2_hop",
      """SELECT tb - to_seconds(k * 1800) AS wstart,
        |  tb - to_seconds(k * 1800) + INTERVAL 1 HOUR AS wend,
        |  count(*) AS n
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb FROM events),
        |  unnest([0, 1]) AS u(k)
        |GROUP BY 1, 2
        |ORDER BY wstart""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("wstart"), col("window.end").as("wend"), col("n"))
        .orderBy("wstart")
    },

    // SESSION(gap 30 min) per user — merging session windows
    // (MergingWindowSet.java:254 semantics). Oracle: gaps-and-islands.
    q("gw3_session",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Dedup keep-first per (user, event_type) by event time
    // (DeduplicateKeepFirstRowFunction.java:64 semantics, batch form).
    q("dd1_dedup_first",
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      Dedup.keepFirst(t(s, dir)("events"), Seq("user_id", "event_type"), "ts", "event_id")
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    },

    // Dedup keep-last (update-stream semantics folded to final state).
    q("dd2_dedup_last",
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      Dedup.keepLast(t(s, dir)("events"), Seq("user_id", "event_type"), "ts", "event_id")
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    },

    // CUMULATE windows (the reference's cumulative/early-fire window
    // family): within each day, expanding windows [day, day+6h),
    // [day, day+12h), [day, day+18h), [day, day+24h). Spark-first
    // shape: each event EXPLODES into the windows that contain it
    // (k = floor(hour/6)+1 .. 4) and one groupBy does the rest —
    // linear work per event, never a time-range join against a
    // generated window table.
    q("gw8_cumulate",
      """WITH x AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS wstart, value,
        |    unnest(generate_series(CAST(floor(hour(ts) / 6) AS INT) + 1, 4)) AS k
        |  FROM events)
        |SELECT wstart, wstart + to_hours(6 * k) AS wend, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM x GROUP BY wstart, k
        |ORDER BY wstart, wend""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .select(date_trunc("day", col("ts")).as("wstart"), col("value"),
          explode(sequence(
            (floor(hour(col("ts")) / 6) + 1).cast(IntegerType), lit(4))).as("k"))
        .groupBy("wstart", "k")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
        .select(col("wstart"),
          (col("wstart") + expr("make_interval(0, 0, 0, 0, 6 * k)")).as("wend"),
          col("n"), col("total"))
        .orderBy("wstart", "wend")
    },

    // SLIDING count window (CountSlidingWindowAssigner analog): per
    // user, windows of 10 events every 5 in event-time order — each
    // row explodes into the (≤2) windows containing it, only complete
    // windows emit. Linear per row (windows-per-row = size/slide is a
    // constant), one groupBy — same shape at any scale.
    q("gw9_sliding_count_window",
      """WITH r AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS nrows
        |  FROM events),
        |x AS (SELECT user_id, value, nrows,
        |    unnest(generate_series(
        |      greatest(0, CAST(ceil((rn - 10) / 5.0) AS BIGINT)),
        |      CAST(floor((rn - 1) / 5.0) AS BIGINT))) AS wid
        |  FROM r)
        |SELECT user_id, CAST(wid AS INT) AS wid, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM x WHERE wid * 5 + 10 <= nrows
        |GROUP BY user_id, wid HAVING count(*) = 10
        |ORDER BY user_id, wid""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val cw = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      t(s, dir)("events")
        .select(col("user_id"), col("value"),
          row_number().over(w).as("rn"), count(lit(1)).over(cw).as("nrows"))
        .select(col("user_id"), col("value"), col("nrows"),
          explode(sequence(
            greatest(lit(0L), ceil((col("rn") - 10) / 5.0).cast(LongType)),
            floor((col("rn") - 1) / 5.0).cast(LongType))).as("wid"))
        .filter(col("wid") * 5 + 10 <= col("nrows"))
        .groupBy("user_id", "wid")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
        .filter(col("n") === 10)
        .select(col("user_id"), col("wid").cast(IntegerType).as("wid"),
          col("n"), col("total"))
        .orderBy("user_id", "wid")
    },

    // Count window (SURVEY §2.9 CountTumblingWindowAssigner): blocks
    // of 10 events per user in event-time order.
    q("gw4_count_window",
      """WITH r AS (SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, CAST(floor((rn - 1) / 10.0) AS INT) AS wid,
        |  count(*) AS n, min(ts) AS w_first, max(ts) AS w_last,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM r GROUP BY 1, 2
        |ORDER BY user_id, wid""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir)("events")
        .withColumn("rn", row_number().over(w))
        .withColumn("wid", floor((col("rn") - 1) / 10.0).cast(IntegerType))
        .groupBy("user_id", "wid")
        .agg(count(lit(1)).as("n"), min("ts").as("w_first"), max("ts").as("w_last"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
        .orderBy("user_id", "wid")
    },

    // Sessionized journeys: ordered event-type path per session — the
    // sessionize→sequence shape of user-journey / funnel analysis.
    q("gw5_session_journeys",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS journey,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(
          min("ts").as("session_start"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")), ">").as("journey"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "journey", "n_events")
        .orderBy("user_id", "session_start")
    },

    // Session window with DYNAMIC per-event gap (the reference's
    // EventTimeSessionWindows.withDynamicGap): purchases hold the
    // session open 60 min, everything else 30 — the gap is a column
    // expression, and merge semantics are running-max of (ts + gap).
    q("gw7_dynamic_session",
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
        |         ELSE INTERVAL 30 MINUTE END AS gap
        |  FROM events),
        |m AS (SELECT *, max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM e),
        |s AS (SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END AS brk FROM m),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
        |SELECT user_id, min(ts) AS session_start, max(ts + gap) AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      val gap = when(col("event_type") === "purchase", "1 hour")
        .otherwise("30 minutes")
      t(s, dir)("events")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Count-evictor window agg (the reference's CountEvictor.of(3)
    // attached to a time window): the hourly aggregate sees only the
    // LAST 3 events of each (user, window) pane — expressed as a
    // ranked retain-filter before the pane aggregation.
    q("gw6_count_evictor",
      """WITH r AS (
        |  SELECT user_id, date_trunc('hour', ts) AS w, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, w AS wstart,
        |  CAST(sum(CASE WHEN rn <= 3 THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS last3_sum,
        |  count(*) AS n_total
        |FROM r GROUP BY user_id, w
        |ORDER BY user_id, wstart""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), date_trunc("hour", col("ts")))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir)("events")
        .withColumn("rn", row_number().over(w))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("wstart"))
        .agg(
          sum(when(col("rn") <= 3, col("value").cast(dec18_2)).otherwise(lit(0)))
            .cast(DoubleType).as("last3_sum"),
          count(lit(1)).as("n_total"))
        .orderBy("user_id", "wstart")
    },

    // DeltaEvictor analog (flink-streaming-java/.../evictors/
    // DeltaEvictor.java + EventTimeTrigger): at the window's event-time
    // firing, evict every buffered element whose value differs from
    // the window's LAST element (the one that closed it, by ts/id
    // order) by more than the delta threshold; aggregate the kept set.
    // One window-function pass + one groupBy — no self-join, scales as
    // an ordinary windowed agg.
    q("gw10_delta_evictor",
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS w
        |  FROM events),
        |lastv AS (
        |  SELECT user_id, w, value AS v_last FROM (
        |    SELECT user_id, w, value,
        |      row_number() OVER (PARTITION BY user_id, w
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1)
        |SELECT e.user_id, e.w AS wstart, count(*) AS n_kept,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_kept,
        |  round(any_value(l.v_last), 6) AS last_v
        |FROM ev e JOIN lastv l ON l.user_id = e.user_id AND l.w = e.w
        |WHERE abs(e.value - l.v_last) <= 50.0
        |GROUP BY e.user_id, e.w
        |ORDER BY e.user_id, wstart""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), date_trunc("day", col("ts")))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir)("events")
        .withColumn("v_last", last(col("value")).over(w))
        .filter(abs(col("value") - col("v_last")) <= 50.0)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("wstart"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("sum_kept"),
          round(first(col("v_last")), 6).as("last_v"))
        .orderBy("user_id", "wstart")
    },

    // TimeEvictor analog (flink-streaming-java/.../evictors/
    // TimeEvictor.java:80-95 — r12 VERDICT item 4, closing the
    // evictors directory: Count gw6, Delta gw10, Time here): at the
    // window's event-time firing, currentTime = the MAX element
    // timestamp in the pane and elements with
    // ts <= currentTime - windowSize are evicted (boundary-INCLUSIVE
    // eviction: `record.getTimestamp() <= evictCutoff`); the
    // aggregate sees only the trailing 2 hours of each daily pane.
    // Same shape as gw10: one window-function pass + one groupBy —
    // no self-join, scales as an ordinary windowed agg.
    q("gw20_time_evictor",
      """WITH ev AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS w
        |  FROM events),
        |mx AS (
        |  SELECT user_id, w, max(ts) AS ts_max FROM ev GROUP BY 1, 2)
        |SELECT e.user_id, e.w AS wstart, count(*) AS n_kept,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_kept
        |FROM ev e JOIN mx ON mx.user_id = e.user_id AND mx.w = e.w
        |WHERE e.ts > mx.ts_max - INTERVAL 2 HOUR
        |GROUP BY e.user_id, e.w
        |ORDER BY e.user_id, wstart""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), date_trunc("day", col("ts")))
      t(s, dir)("events")
        .withColumn("ts_max", max(col("ts")).over(w))
        .filter(col("ts") > col("ts_max") - expr("INTERVAL 2 HOUR"))
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("wstart"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("sum_kept"))
        .orderBy("user_id", "wstart")
    },

    // ContinuousEventTimeTrigger analog (flink-streaming-java/.../
    // triggers/ContinuousEventTimeTrigger.java): a 1-day event-time
    // window that ALSO fires every 6 hours, each firing emitting the
    // running aggregate over everything buffered so far. Batch form:
    // per (key, day, 6h-slot) partial aggregates, then a running sum
    // over slots inside the day — two shuffle-free window passes over
    // one partial-agg shuffle.
    q("gw11_continuous_trigger",
      """WITH slots AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS w,
        |    date_trunc('hour', ts) - to_seconds(3600 * (hour(ts) % 6)) AS slot,
        |    count(*) AS n_slot,
        |    sum(CAST(value AS DECIMAL(18,2))) AS v_slot
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, w AS wstart, slot AS fire_at,
        |  CAST(sum(n_slot) OVER cum AS BIGINT) AS n_so_far,
        |  CAST(sum(v_slot) OVER cum AS DOUBLE) AS sum_so_far
        |FROM slots
        |WINDOW cum AS (PARTITION BY user_id, w ORDER BY slot
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, wstart, fire_at""".stripMargin) { (s, dir) =>
      val slot = date_trunc("hour", col("ts")) -
        expr("make_interval(0, 0, 0, 0, hour(ts) % 6, 0, 0)")
      val slots = t(s, dir)("events")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("w"),
          slot.as("slot"))
        .agg(count(lit(1)).as("n_slot"),
          sum(col("value").cast(dec18_2)).as("v_slot"))
      val cum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("w")).orderBy(col("slot"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      slots.select(col("user_id"), col("w").as("wstart"),
          col("slot").as("fire_at"),
          sum(col("n_slot")).over(cum).cast("long").as("n_so_far"),
          sum(col("v_slot")).over(cum).cast(DoubleType).as("sum_so_far"))
        .orderBy("user_id", "wstart", "fire_at")
    },

    // CEP: signup followedBy purchase within 2h, earliest match per
    // signup (MATCH_RECOGNIZE ... PATTERN (A B) semantics, batch).
    q("cep1_followed_by",
      """SELECT user_id, a_id, a_ts, b_id, b_ts FROM (
        |  SELECT a.user_id, a.event_id AS a_id, a.ts AS a_ts,
        |         b.event_id AS b_id, b.ts AS b_ts,
        |    row_number() OVER (PARTITION BY a.user_id, a.event_id ORDER BY b.ts, b.event_id) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'signup') a
        |  JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |    ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts < a.ts + INTERVAL 2 HOUR)
        |WHERE rn = 1
        |ORDER BY user_id, a_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir)("events")
        .filter(col("event_type").isin("signup", "purchase"))
      val m = PatternNFA.run(s, e.select(col("user_id").as("key"),
          unix_micros(col("ts")).as("tsMicros"), col("event_id").as("id"),
          col("event_type").as("kind")),
        PatternNFA.Pattern(Seq(PatternNFA.Step("A", "signup"),
          PatternNFA.Step("B", "purchase")), 7200L * 1000000L))
      // the engine emits event ids; both timestamps join back
      def side(kind: String, p: String) = e.filter(col("event_type") === kind)
        .select(col("user_id"), col("event_id").as(s"${p}_id"),
          col("ts").as(s"${p}_ts"))
      m.select(col("key").as("user_id"), col("anchor_id").as("a_id"),
          col("end_id").as("b_id"))
        .join(side("signup", "a"), Seq("user_id", "a_id"))
        .join(side("purchase", "b"), Seq("user_id", "b_id"))
        .select("user_id", "a_id", "a_ts", "b_id", "b_ts")
        .orderBy("user_id", "a_id")
    },

    // Group-window SQL TEXT (SURVEY §2.4/§2.8 — the reference's
    // `GROUP BY TUMBLE(...)` + TUMBLE_START/END/ROWTIME spelling,
    // FlinkSqlOperatorTable.java:868): the text goes through spark.sql
    // and GraftSqlParser/GroupWindowSql rewrites it to window() —
    // semantics (and oracle) identical to gw1, the SQL surface is the
    // thing under test. rowtime = window end − 1ms (the reference's
    // WindowProperties convention).
    q("gw12_tumble_sql",
      """SELECT date_trunc('hour', ts) AS wstart,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND AS rowtime,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY 1, 2, 3, 4
        |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw12_events")
      s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS wstart,
          |       TUMBLE_END(ts, INTERVAL '1' HOUR) AS wend,
          |       TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rowtime,
          |       event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM gw12_events
          |GROUP BY event_type, TUMBLE(ts, INTERVAL '1' HOUR)
          |ORDER BY wstart, event_type""".stripMargin)
    },

    // HOP and SESSION through the same SQL-text surface (HOP's
    // slide-then-size argument order is the reference's; the rewrite
    // flips it into Spark's size-then-slide window()) — oracles are
    // gw2/gw3's.
    q("gw13_hop_sql",
      """SELECT tb - to_seconds(k * 1800) AS wstart,
        |  tb - to_seconds(k * 1800) + INTERVAL 1 HOUR AS wend,
        |  count(*) AS n
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb FROM events),
        |  unnest([0, 1]) AS u(k)
        |GROUP BY 1, 2
        |ORDER BY wstart""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw13_events")
      s.sql(
        """SELECT HOP_START(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) AS wstart,
          |       HOP_END(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) AS wend,
          |       count(*) AS n
          |FROM gw13_events
          |GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)
          |ORDER BY wstart""".stripMargin)
    },

    q("gw14_session_sql",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw14_events")
      s.sql(
        """SELECT user_id,
          |       SESSION_START(ts, INTERVAL '30' MINUTE) AS session_start,
          |       SESSION_END(ts, INTERVAL '30' MINUTE) AS session_end,
          |       count(*) AS n_events
          |FROM gw14_events
          |GROUP BY user_id, SESSION(ts, INTERVAL '30' MINUTE)
          |ORDER BY user_id, session_start""".stripMargin)
    },

    // The windowing-TVF spelling (SqlWindowTableFunction — the
    // reference's newer `FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts),
    // size))` form): rewritten to a window-struct subquery; TUMBLE's
    // 1:1 row→window mapping makes it a pure projection, then the
    // GROUP BY over window_start/window_end aggregates as usual.
    // Oracle = gw1's semantics with TVF output column names.
    // Group-window TABLE aggregate (SURVEY §2.4 —
    // StreamExecGroupWindowTableAggregate: a TableAggregateFunction
    // emitting MULTIPLE rows per time window, the reference's
    // windowed Top2-style emitAggregate). Spark spelling: group by
    // the window struct, aggregate to a top-2 array (the a6 pattern:
    // struct sort keyed (value, inverted id) so reverse gives value
    // DESC / id ASC), posexplode back to rows. Note the accumulator
    // here is bounded by the emit count only in the oracle's
    // rank-based plan; for 100 TB the engine's scale path for this
    // shape is WindowGroupLimit (q:w7) — this row is the
    // TableAggregateFunction API surface at window grain.
    q("gw17_window_table_agg",
      """SELECT wstart, rank, event_id, value FROM (
        |  SELECT date_trunc('hour', ts) AS wstart, event_id, value,
        |    row_number() OVER (PARTITION BY date_trunc('hour', ts)
        |                       ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |WHERE rank <= 2
        |ORDER BY wstart, rank""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(slice(reverse(array_sort(collect_list(
          struct(col("value"), (lit(Long.MaxValue) - col("event_id")).as("_inv"),
            col("event_id"))))), 1, 2).as("top2"))
        .select(col("w.start").as("wstart"), posexplode(col("top2")))
        .select(col("wstart"), (col("pos") + 1).as("rank"),
          col("col.event_id").as("event_id"), col("col.value").as("value"))
        .orderBy("wstart", "rank")
    },

    // HOP TVF (SqlWindowTableFunction's sliding form): the rewrite
    // replicates each row into ceil(size/slide) windows via an
    // explode(sequence(...)) over the slide-aligned anchor — the
    // reference's per-row window expansion as an Expand Catalyst can
    // see through. Oracle = gw13's time_bucket + offset-unnest trick
    // with the TVF's column names.
    q("gw16_hop_tvf",
      """SELECT tb - to_seconds(k * 1800) AS window_start,
        |  tb - to_seconds(k * 1800) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb, event_type
        |      FROM events),
        |  unnest([0, 1]) AS u(k)
        |GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw16_events")
      s.sql(
        """SELECT window_start, window_end, event_type, count(*) AS n
          |FROM TABLE(HOP(TABLE gw16_events, DESCRIPTOR(ts),
          |               INTERVAL '30' MINUTE, INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, event_type
          |ORDER BY window_start, event_type""".stripMargin)
    },

    // SESSION windowing TVF (SqlSessionTableFunction — the newer
    // session spelling with PARTITION BY on the table argument):
    // rewritten by GroupWindowSql into the tie-safe gaps-and-islands
    // window computation (RANGE-framed opener detection + running
    // opener count = session id; one shuffle on the partition key,
    // subsequent passes reuse the clustering). Same session semantics
    // as gw3's GROUP BY spelling — diff == gap merges — so the oracle
    // is gw3's islands form with the TVF's column names.
    q("gw18_session_tvf",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS window_start,
        |  max(ts) + INTERVAL 30 MINUTE AS window_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, window_start""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw18_events")
      s.sql(
        """SELECT user_id, window_start, window_end, count(*) AS n_events
          |FROM TABLE(SESSION(TABLE gw18_events PARTITION BY user_id,
          |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE))
          |GROUP BY user_id, window_start, window_end
          |ORDER BY user_id, window_start""".stripMargin)
    },

    q("gw15_tumble_tvf",
      """SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw15_events")
      s.sql(
        """SELECT window_start, window_end, event_type, count(*) AS n
          |FROM TABLE(TUMBLE(TABLE gw15_events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, event_type
          |ORDER BY window_start, event_type""".stripMargin)
    },

    // CUMULATE windowing TVF (FLIP-145's fourth TVF;
    // SqlCumulateTableFunction) — gw8's cumulative-window semantics
    // in the reference's TVF spelling: every row fans out to the
    // windows [W, W+6h), [W, W+12h), … [W, W+1d) with W its
    // day-aligned start, keeping those whose end exceeds its ts.
    // Oracle: the first covering end index is floor(hour/6)+1, so
    // generate_series over the remaining k reproduces the fan-out.
    q("gw19_cumulate_tvf",
      """WITH x AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |    value,
        |    unnest(generate_series(CAST(floor(hour(ts) / 6) AS INT) + 1, 4)) AS k
        |  FROM events)
        |SELECT window_start, window_start + to_hours(6 * k) AS window_end,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM x GROUP BY 1, 2
        |ORDER BY window_start, window_end""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("gw19_events")
      s.sql(
        """SELECT window_start, window_end, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM TABLE(CUMULATE(TABLE gw19_events, DESCRIPTOR(ts),
          |                    INTERVAL '6' HOUR, INTERVAL '1' DAY))
          |GROUP BY window_start, window_end
          |ORDER BY window_start, window_end""".stripMargin)
    })
}
