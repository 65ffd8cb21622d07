package graft.queries

import graft.QueryGroup
import graft.operators.PatternNFA
import graft.operators.PatternNFA._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The rest of the CEP pattern algebra (SURVEY.md §2.9 — flink-cep
  * Pattern.java:155-477): optional, notFollowedBy, until, times(from,
  * to), consecutive, allowCombinations, group patterns
  * (GroupPattern.java), the full AfterMatchSkipStrategy family (SKIP
  * PAST LAST / TO FIRST / TO LAST / NO SKIP), and cross-variable
  * DEFINE navigation (IterativeCondition.java:52). Every query is
  * oracle-checked against SQL that encodes the same earliest-first
  * NFA semantics (LATERAL earliest bindings; recursive CTEs for the
  * skip strategies' greedy re-arm scans; nested EXISTS for group
  * completion).
  */
object CepExtras extends QueryGroup {

  private val H2 = 7200000000L   // 2 hours in µs
  private val H6 = 21600000000L  // 6 hours in µs
  private val H72 = 259200000000L // 72 hours in µs — multi-click patterns need a
                                  // wide horizon at this event density to be non-vacuous

  /** Shared oracle prelude: per-user event sequence with ts in µs and
    * the (ts, id) sequence number the NFA scan orders by. */
  private val evSql =
    """ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
      |      FROM ev WHERE event_type = 'signup')""".stripMargin

  private def events(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events").select(
      col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
      col("event_id").as("id"), col("event_type").as("kind"))

  /** STRICT-contiguity oracle scaffold for the `A B+ …` clause family
    * (B = click): per signup anchor, `erun` is the rn of the first row
    * AFTER the anchor that is not a click — the committed greedy loop
    * exits exactly there (NULL when clicks run to the key's end). The
    * loop's bound rows are rn ∈ (a_rn, erun); a run crossing the
    * WITHIN deadline kills the attempt (checked via the LAST run row's
    * ts — rows are ts-ordered), it never shrinks. */
  private val evRunSql =
    """ev AS (
      |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
      |      FROM ev WHERE event_type = 'signup'),
      |r AS (
      |  SELECT a.*, (SELECT min(x.rn) FROM ev x
      |    WHERE x.user_id = a.user_id AND x.rn > a.a_rn
      |      AND x.event_type <> 'click') AS erun
      |  FROM a)""".stripMargin

  override def queries = Seq(

    // optional: signup → click? → purchase within 2h. The optional
    // click binds greedily (earliest click for which a purchase still
    // follows), else the pattern completes without it.
    q("cep5_optional",
      s"""WITH $evSql,
        |wcp AS (
        |  SELECT a.user_id, a.a_id, c.event_id AS c_id, p.event_id AS p_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c.ts_us AND e.ts_us < a.a_us + $H2
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |ap AS (
        |  SELECT a.user_id, a.a_id, p.event_id AS p_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || c_id || ',' || p_id AS chain, '' AS counts FROM wcp
        |UNION ALL
        |SELECT ap.user_id, ap.a_id, ap.p_id, ap.a_id || ',' || ap.p_id, ''
        |FROM ap WHERE NOT EXISTS (SELECT 1 FROM wcp
        |  WHERE wcp.user_id = ap.user_id AND wcp.a_id = ap.a_id)
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("click", "click", Optional),
          Step("purchase", "purchase")), H2))
        .orderBy("key", "anchor_id")
    },

    // notFollowedBy: signup → purchase within 2h with NO error strictly
    // between the two bindings.
    q("cep6_not_followed",
      s"""WITH $evSql
        |SELECT a.user_id AS key, a.a_id AS anchor_id, p.event_id AS end_id,
        |  a.a_id || ',' || p.event_id AS chain, '' AS counts
        |FROM a
        |JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2
        |  ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true
        |WHERE NOT EXISTS (SELECT 1 FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'error'
        |    AND e.ts_us > a.a_us AND e.ts_us < p.ts_us)
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("noerr", "error", Not),
          Step("purchase", "purchase")), H2))
        .orderBy("key", "anchor_id")
    },

    // until: signup → click+ (stopping at the first error) → purchase
    // within 6h; the loop count only absorbs clicks before the stop
    // event (Pattern.java:219).
    q("cep7_until",
      s"""WITH $evSql,
        |m AS (
        |  SELECT a.user_id, a.a_id, a.a_us, c.event_id AS c_id, c.ts_us AS c_us,
        |    p.event_id AS p_id, p.ts_us AS p_us,
        |    (SELECT min(e.ts_us) FROM ev e
        |     WHERE e.user_id = a.user_id AND e.event_type = 'error'
        |       AND e.ts_us > a.a_us) AS err_us
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H6
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c.ts_us AND e.ts_us < a.a_us + $H6
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT m.user_id AS key, m.a_id AS anchor_id, m.p_id AS end_id,
        |  m.a_id || ',' || m.c_id || ',' || m.p_id AS chain,
        |  'clicks:' || (SELECT count(*) FROM ev e
        |    WHERE e.user_id = m.user_id AND e.event_type = 'click'
        |      AND e.ts_us > m.a_us AND e.ts_us < m.a_us + $H6
        |      AND e.ts_us < least(m.p_us, coalesce(m.err_us, 9223372036854775807))) AS counts
        |FROM m WHERE m.err_us IS NULL OR m.err_us > m.c_us
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("clicks", "click", OneOrMore(untilKind = Some("error"))),
          Step("purchase", "purchase")), H6))
        .orderBy("key", "anchor_id")
    },

    // times(2,3) greedy: signup → 2..3 successive clicks (as many as
    // still let a purchase follow) → purchase, within 6h.
    q("cep8_times_range",
      s"""WITH $evSql,
        |m AS (
        |  SELECT a.user_id, a.a_id, b1.event_id AS b1_id, b2.event_id AS b2_id,
        |    b3.event_id AS b3_id, p3.event_id AS p3_id, p2.event_id AS p2_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > b1.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b2 ON true
        |  LEFT JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > b2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b3 ON true
        |  LEFT JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b3.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p3 ON true
        |  LEFT JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p2 ON true)
        |SELECT user_id AS key, a_id AS anchor_id,
        |  CASE WHEN b3_id IS NOT NULL AND p3_id IS NOT NULL THEN p3_id ELSE p2_id END AS end_id,
        |  CASE WHEN b3_id IS NOT NULL AND p3_id IS NOT NULL
        |    THEN a_id || ',' || b1_id || ',' || b2_id || ',' || b3_id || ',' || p3_id
        |    ELSE a_id || ',' || b1_id || ',' || b2_id || ',' || p2_id END AS chain,
        |  '' AS counts
        |FROM m
        |WHERE (b3_id IS NOT NULL AND p3_id IS NOT NULL) OR p2_id IS NOT NULL
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("clicks", "click", TimesRange(2, 3)),
          Step("purchase", "purchase")), H72))
        .orderBy("key", "anchor_id")
    },

    // times(2).consecutive(): the two clicks must be ADJACENT in the
    // per-user event sequence (strict contiguity). r14: the entry is
    // the FIRST click after the anchor — the reference's waiting
    // state is consumed by a takeable event (ignore = NOT(take)), so
    // a broken first pair kills the anchor, it does not advance.
    q("cep9_consecutive",
      s"""WITH $evSql,
        |m AS (
        |  SELECT a.user_id, a.a_id, c1.event_id AS c1_id,
        |    c2.event_id AS c2_id, c2.ts_us AS c2_us
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.rn FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c1 ON true
        |  JOIN ev c2 ON c2.user_id = a.user_id AND c2.rn = c1.rn + 1
        |    AND c2.event_type = 'click' AND c2.ts_us < a.a_us + $H72)
        |SELECT m.user_id AS key, m.a_id AS anchor_id, p.event_id AS end_id,
        |  m.a_id || ',' || m.c1_id || ',' || m.c2_id || ',' || p.event_id AS chain,
        |  '' AS counts
        |FROM m
        |JOIN LATERAL (SELECT e.event_id FROM ev e
        |  WHERE e.user_id = m.user_id AND e.event_type = 'purchase'
        |    AND e.ts_us > m.c2_us AND e.ts_us < (SELECT a2.a_us + $H72 FROM a a2
        |      WHERE a2.user_id = m.user_id AND a2.a_id = m.a_id)
        |  ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("clicks", "click", Times(2, consecutive = true)),
          Step("purchase", "purchase")), H72))
        .orderBy("key", "anchor_id")
    },

    // allowCombinations: signup → click×2 (EVERY pair, not just the
    // successive-earliest run) → purchase within 6h; one match row per
    // combination.
    q("cep10_combinations",
      s"""WITH $evSql,
        |m AS (
        |  SELECT a.user_id, a.a_id, a.a_us, c2.ts_us AS c2_us, p.event_id AS p_id,
        |    p.ts_us AS p_us
        |  FROM a
        |  JOIN LATERAL (SELECT e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1 OFFSET 1) c2 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT m.user_id AS key, m.a_id AS anchor_id, m.p_id AS end_id,
        |  m.a_id || ',' || x.event_id || ',' || y.event_id || ',' || m.p_id AS chain,
        |  '' AS counts
        |FROM m
        |JOIN ev x ON x.user_id = m.user_id AND x.event_type = 'click'
        |  AND x.ts_us > m.a_us AND x.ts_us < m.p_us AND x.ts_us < m.a_us + $H72
        |JOIN ev y ON y.user_id = m.user_id AND y.event_type = 'click'
        |  AND y.ts_us > m.a_us AND y.ts_us < m.p_us AND y.ts_us < m.a_us + $H72
        |  AND (y.ts_us > x.ts_us OR (y.ts_us = x.ts_us AND y.event_id > x.event_id))
        |ORDER BY key, anchor_id, chain""".stripMargin) { (s, dir) =>
      PatternNFA.runCombinationsPairs(s, events(s, dir),
          anchorKind = "signup", loopKind = "click", endKind = "purchase",
          withinMicros = H72)
        .orderBy("key", "anchor_id", "chain")
    },

    // MATCH_RECOGNIZE SQL surface (StreamExecMatch.scala:68): the
    // clause text compiles onto PatternNFA's STRICT mode — a match is
    // a CONTIGUOUS row run (match_recognize.md:349), so the optional
    // click must be the row IMMEDIATELY after the signup and the
    // purchase immediately after that (or immediately after the
    // signup when C binds empty). Oracle = rn adjacency.
    q("mr1_match_recognize",
      s"""WITH $evSql,
        |j AS (
        |  SELECT a.user_id, a.a_id, a.a_us,
        |    n1.event_type AS t1, n1.event_id AS id1, n1.ts_us AS us1,
        |    n2.event_type AS t2, n2.event_id AS id2, n2.ts_us AS us2
        |  FROM a
        |  LEFT JOIN ev n1 ON n1.user_id = a.user_id AND n1.rn = a.a_rn + 1
        |  LEFT JOIN ev n2 ON n2.user_id = a.user_id AND n2.rn = a.a_rn + 2),
        |sel AS (
        |  SELECT *,
        |    (t1 = 'click' AND us1 < a_us + $H2 AND t2 = 'purchase'
        |      AND us2 < a_us + $H2) AS withc,
        |    (t1 = 'purchase' AND us1 < a_us + $H2) AS noc
        |  FROM j)
        |SELECT user_id AS key, a_id AS anchor_id,
        |  CASE WHEN withc THEN id2 ELSE id1 END AS end_id,
        |  CASE WHEN withc THEN a_id || ',' || id1 || ',' || id2
        |       ELSE a_id || ',' || id1 END AS chain,
        |  '' AS counts
        |FROM sel WHERE withc OR noc
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      graft.operators.MatchRecognize.run(s, events(s, dir),
          """MATCH_RECOGNIZE (
            |  PARTITION BY key ORDER BY ts
            |  AFTER MATCH SKIP TO NEXT ROW
            |  PATTERN (A C? P)
            |  WITHIN INTERVAL '2' HOUR
            |  DEFINE A AS kind = 'signup', C AS kind = 'click',
            |         P AS kind = 'purchase'
            |)""".stripMargin)
        .orderBy("key", "anchor_id")
    },

    // MATCH_RECOGNIZE with a GENERAL (non-literal) DEFINE predicate
    // (MatchCodeGenerator.scala compiles arbitrary per-variable
    // conditions; Pattern.java:155 where()): the purchase step
    // requires value > 100, evaluated into the NFA's pre-shuffle
    // bitmask. STRICT contiguity: the purchase must be the row
    // immediately after the signup AND pass the value cut — a
    // low-value adjacent purchase kills the match, it is not skipped.
    q("mr2_match_define_predicate",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |      FROM ev WHERE event_type = 'signup')
        |SELECT a.user_id AS key, a.a_id AS anchor_id, p.event_id AS end_id,
        |  a.a_id || ',' || p.event_id AS chain, '' AS counts
        |FROM a
        |JOIN ev p ON p.user_id = a.user_id AND p.rn = a.a_rn + 1
        |  AND p.event_type = 'purchase' AND p.value > 100
        |  AND p.ts_us < a.a_us + $H6
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      graft.operators.MatchRecognize.run(s,
          t(s, dir)("events").select(
            col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("id"), col("event_type").as("kind"),
            col("value")),
          """MATCH_RECOGNIZE (
            |  PARTITION BY key ORDER BY ts
            |  AFTER MATCH SKIP TO NEXT ROW
            |  PATTERN (A P)
            |  WITHIN INTERVAL '6' HOUR
            |  DEFINE A AS kind = 'signup',
            |         P AS kind = 'purchase' AND value > 100
            |)""".stripMargin)
        .orderBy("key", "anchor_id")
    },

    // AFTER MATCH SKIP PAST LAST EVENT: signup → purchase within 6h,
    // anchors re-armed only past the previous match's last event —
    // greedy non-overlapping scan, mirrored by a recursive CTE.
    q("cep11_skip_past_last",
      s"""WITH RECURSIVE $evSql,
        |cand AS (
        |  SELECT a.user_id, a.a_id, a.a_rn, p.event_id AS p_id, p.rn AS p_rn
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.rn FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H6
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |rec AS (
        |  SELECT user_id, a_id, a_rn, p_id, p_rn FROM (
        |    SELECT c.*, row_number() OVER (PARTITION BY user_id ORDER BY a_rn) AS pick
        |    FROM cand c) WHERE pick = 1
        |  UNION ALL
        |  SELECT user_id, a_id, a_rn, p_id, p_rn FROM (
        |    SELECT c.user_id, c.a_id, c.a_rn, c.p_id, c.p_rn,
        |      row_number() OVER (PARTITION BY c.user_id ORDER BY c.a_rn) AS pick
        |    FROM cand c JOIN rec r ON c.user_id = r.user_id AND c.a_rn > r.p_rn)
        |  WHERE pick = 1)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || p_id AS chain, '' AS counts
        |FROM rec ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("purchase", "purchase")), H6, SkipPastLastEvent))
        .orderBy("key", "anchor_id")
    },

    // MEASURES + ONE ROW PER MATCH (StreamExecMatch.scala:68 measures
    // path, MatchCodeGenerator.scala): signup → click+ → purchase
    // within 72h, one output row per match carrying per-variable
    // FIRST/LAST/COUNT/AVG aggregates over the bound events plus
    // MATCH_NUMBER(). STRICT contiguity: B+ is the maximal consecutive
    // click run right after the anchor, and the purchase must be the
    // row that ends the run.
    q("mr3_measures",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    p.value AS p_val, lc.ts_us AS lc_us
        |  FROM r
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72),
        |agg AS (
        |  SELECT m.user_id, m.a_id, m.a_us, m.p_val, m.lc_us,
        |    count(*) AS n_clicks, round(avg(b.value), 6) AS avg_click_value
        |  FROM m JOIN ev b ON b.user_id = m.user_id
        |    AND b.rn BETWEEN m.a_rn + 1 AND m.erun - 1
        |  GROUP BY ALL)
        |SELECT user_id AS key,
        |  row_number() OVER (PARTITION BY user_id ORDER BY a_us, a_id)
        |    AS match_seq,
        |  a_us AS start_us, n_clicks, avg_click_value,
        |  lc_us AS last_click_us, p_val AS purchase_value
        |FROM agg ORDER BY key, match_seq""".stripMargin) { (s, dir) =>
      graft.operators.MatchRecognize.run(s,
          t(s, dir)("events").select(
            col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("id"), col("event_type").as("kind"),
            col("value")),
          """MATCH_RECOGNIZE (
            |  PARTITION BY key ORDER BY ts
            |  MEASURES MATCH_NUMBER() AS match_seq,
            |           FIRST(A.tsMicros) AS start_us,
            |           COUNT(B.id) AS n_clicks,
            |           ROUND(AVG(B.value), 6) AS avg_click_value,
            |           LAST(B.tsMicros) AS last_click_us,
            |           P.value AS purchase_value
            |  ONE ROW PER MATCH
            |  AFTER MATCH SKIP TO NEXT ROW
            |  PATTERN (A B+ P)
            |  WITHIN INTERVAL '72' HOUR
            |  DEFINE A AS kind = 'signup', B AS kind = 'click',
            |         P AS kind = 'purchase'
            |)""".stripMargin)
        .orderBy("key", "match_seq")
    },

    // ALL ROWS PER MATCH (SQL-standard batch extension one step past
    // the reference, which restricts MATCH_RECOGNIZE to ONE ROW PER
    // MATCH): same pattern, one output row per MATCHED EVENT tagged
    // with its classifier (pattern variable) and the match's FINAL
    // measures.
    q("mr4_all_rows_per_match",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    p.event_id AS p_id
        |  FROM r
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72),
        |mm AS (
        |  SELECT m.*, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_no
        |  FROM m),
        |rws AS (
        |  SELECT user_id, match_no, 'A' AS classifier, a_id AS event_id,
        |    a_rn, erun
        |  FROM mm
        |  UNION ALL
        |  SELECT mm.user_id, mm.match_no, 'B', b.event_id, mm.a_rn, mm.erun
        |  FROM mm JOIN ev b ON b.user_id = mm.user_id
        |    AND b.rn BETWEEN mm.a_rn + 1 AND mm.erun - 1
        |  UNION ALL
        |  SELECT user_id, match_no, 'P', p_id, a_rn, erun FROM mm)
        |SELECT user_id AS key, match_no, classifier, event_id,
        |  erun - a_rn - 1 AS n_clicks
        |FROM rws
        |ORDER BY key, match_no, classifier, event_id""".stripMargin) { (s, dir) =>
      graft.operators.MatchRecognize.run(s,
          t(s, dir)("events").select(
            col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("id"), col("event_type").as("kind"),
            col("value")),
          """MATCH_RECOGNIZE (
            |  PARTITION BY key ORDER BY ts
            |  MEASURES COUNT(B.id) AS n_clicks
            |  ALL ROWS PER MATCH
            |  AFTER MATCH SKIP TO NEXT ROW
            |  PATTERN (A B+ P)
            |  WITHIN INTERVAL '72' HOUR
            |  DEFINE A AS kind = 'signup', B AS kind = 'click',
            |         P AS kind = 'purchase'
            |)""".stripMargin)
        .orderBy("key", "match_no", "classifier", "event_id")
    },

    // MATCH_RECOGNIZE as a full SQL STATEMENT (SURVEY §2.9 — the
    // reference's flink-sql-parser clause surface, ITCase style): the
    // statement runs VERBATIM against the raw events view — no
    // pre-canonicalized frame — and MatchRecognizeSql derives the
    // state key and rowtime from the clause's own PARTITION BY /
    // ORDER BY, routing to the same NFA + measure aggregation mr3
    // exercises. The statement surface is the thing under test.
    q("mr5_sql_text",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun, p.value AS p_val
        |  FROM r
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72),
        |agg AS (
        |  SELECT m.user_id, m.a_id, m.a_us, m.p_val,
        |    count(*) AS n_clicks, round(avg(b.value), 6) AS avg_click_value
        |  FROM m JOIN ev b ON b.user_id = m.user_id
        |    AND b.rn BETWEEN m.a_rn + 1 AND m.erun - 1
        |  GROUP BY ALL)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY a_us, a_id)
        |    AS match_seq,
        |  a_id, n_clicks, avg_click_value, p_val AS purchase_value
        |FROM agg ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr5_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr5_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           COUNT(B.event_id) AS n_clicks,
          |           ROUND(AVG(B.value), 6) AS avg_click_value,
          |           P.value AS purchase_value
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B+ P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup', B AS event_type = 'click',
          |         P AS event_type = 'purchase'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // Timed-out partial matches (PatternStream.java:175
    // select(timeoutFunction) / TimedOutPartialMatchHandler): pattern
    // signup → click → purchase within 2h; every signup whose run
    // cannot complete emits the prefix the NFA had bound when the
    // window expired — the anchor alone, or anchor + the earliest
    // in-window click. The main matches are cep5/cep1's output; this
    // is the reference's side-output stream.
    q("cep12_timeout_partials",
      s"""WITH $evSql,
        |tmo AS (
        |  SELECT a.user_id, a.a_id, a.a_us FROM a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM ev c, ev p
        |    WHERE c.user_id = a.user_id AND p.user_id = a.user_id
        |      AND c.event_type = 'click' AND p.event_type = 'purchase'
        |      AND c.ts_us > a.a_us AND c.ts_us < a.a_us + $H2
        |      AND p.ts_us > c.ts_us AND p.ts_us < a.a_us + $H2))
        |SELECT t.user_id AS key, t.a_id AS anchor_id,
        |  coalesce(c.event_id, t.a_id) AS last_id,
        |  CASE WHEN c.event_id IS NULL THEN 1 ELSE 2 END AS n_bound
        |FROM tmo t
        |LEFT JOIN LATERAL (SELECT e.event_id FROM ev e
        |  WHERE e.user_id = t.user_id AND e.event_type = 'click'
        |    AND e.ts_us > t.a_us AND e.ts_us < t.a_us + $H2
        |  ORDER BY e.ts_us, e.event_id LIMIT 1) c ON true
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"), Step("C", "click"), Step("P", "purchase")), H2), Timeouts)
        .select(col("key"), col("anchor_id"), col("last_id"), col("n_bound"))
        .orderBy("key", "anchor_id")
    },

    // Cross-variable DEFINE predicates as a full MATCH_RECOGNIZE SQL
    // statement (the reference's ITERATIVE conditions —
    // IterativeCondition.java:52, compiled for MATCH_RECOGNIZE in
    // MatchCodeGenerator.scala; its MatchRecognizeITCase price
    // patterns lean on exactly this): B's clicks must beat the
    // anchor's value (LAST(A.value) navigation), and P's purchase must
    // beat the FIRST loop element's value — both evaluated DURING the
    // NFA scan against the partial match, not pre-evaluable map-side.
    // Oracle encodes STRICT committed-greedy semantics: the run is the
    // maximal streak of ADJACENT clicks each beating the anchor's
    // value; the loop exits only at a row failing its own DEFINE, and
    // that exact row must be the qualifying purchase — no shrink.
    q("mr6_define_navigation",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn,
        |        value AS a_val
        |      FROM ev WHERE event_type = 'signup'),
        |r AS (
        |  SELECT a.*, (SELECT min(x.rn) FROM ev x
        |    WHERE x.user_id = a.user_id AND x.rn > a.a_rn
        |      AND NOT (x.event_type = 'click' AND x.value > a.a_val)) AS erun
        |  FROM a),
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    b1.value AS b1_val, lc.value AS bk_val, p.value AS p_val
        |  FROM r
        |  JOIN ev b1 ON b1.user_id = r.user_id AND b1.rn = r.a_rn + 1
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.value > b1.value
        |    AND p.ts_us < r.a_us + $H72)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, b1_val AS b1_value, bk_val AS bk_value,
        |  erun - a_rn - 1 AS n_b, p_val AS p_value
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr6_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr6_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           FIRST(B.value) AS b1_value,
          |           LAST(B.value) AS bk_value,
          |           COUNT(B.event_id) AS n_b,
          |           P.value AS p_value
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B+ P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         B AS event_type = 'click' AND B.value > A.value,
          |         P AS event_type = 'purchase' AND P.value > FIRST(B.value)
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // AFTER MATCH SKIP TO FIRST B (AfterMatchSkipStrategy.java
    // skipToFirst): after a match, anchors re-arm AT the first event
    // bound to B (inclusive) — overlapping matches that SKIP PAST LAST
    // ROW would suppress survive when the next signup falls between
    // the first bound click and the previous match's purchase.
    // Recursive-CTE oracle mirrors the greedy re-arm scan.
    q("cep13_skip_to_first",
      s"""WITH RECURSIVE $evSql,
        |cand AS (
        |  SELECT a.user_id, a.a_id, a.a_rn, a.a_us, b.b_id, b.b_rn,
        |    p.p_id, p.p_us
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id AS b_id, e.rn AS b_rn,
        |      e.ts_us AS b_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev p2 WHERE p2.user_id = a.user_id
        |        AND p2.event_type = 'purchase' AND p2.ts_us > e.ts_us
        |        AND p2.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b ON true
        |  JOIN LATERAL (SELECT e.event_id AS p_id, e.ts_us AS p_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b.b_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |rec AS (
        |  SELECT user_id, a_id, a_rn, a_us, b_id, b_rn, p_id, p_us FROM (
        |    SELECT c.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY a_rn) AS pick
        |    FROM cand c) WHERE pick = 1
        |  UNION ALL
        |  SELECT user_id, a_id, a_rn, a_us, b_id, b_rn, p_id, p_us FROM (
        |    SELECT c.user_id, c.a_id, c.a_rn, c.a_us, c.b_id, c.b_rn,
        |      c.p_id, c.p_us,
        |      row_number() OVER (PARTITION BY c.user_id ORDER BY c.a_rn) AS pick
        |    FROM cand c JOIN rec r ON c.user_id = r.user_id
        |      AND c.a_rn >= r.b_rn)
        |  WHERE pick = 1)
        |SELECT r.user_id AS key, r.a_id AS anchor_id, r.p_id AS end_id,
        |  r.a_id || ',' || r.b_id || ',' || r.p_id AS chain,
        |  'B:' || (SELECT count(*) FROM ev e WHERE e.user_id = r.user_id
        |    AND e.event_type = 'click' AND e.ts_us > r.a_us
        |    AND e.ts_us < r.p_us AND e.ts_us < r.a_us + $H72) AS counts
        |FROM rec r ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("B", "click", OneOrMore()),
          Step("P", "purchase")), H72, SkipToFirst("B")))
        .orderBy("key", "anchor_id")
    },

    // GROUP pattern (GroupPattern.java — Pattern.begin(sub).times(1,2)):
    // the (C P) sub-sequence as ONE quantified step, greedy
    // largest-repeat-first with backtracking. Oracle: the k=2
    // expansion binds each One-step earliest such that the remaining
    // chain still exists (nested EXISTS); anchors where k=2 is
    // impossible fall back to k=1.
    q("cep14_group_pattern",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us
        |      FROM ev WHERE event_type = 'signup'),
        |k2 AS (
        |  SELECT a.user_id, a.a_id, c1.event_id AS c1_id, p1.event_id AS p1_id,
        |    c2.event_id AS c2_id, p2.event_id AS p2_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x1 WHERE x1.user_id = a.user_id
        |        AND x1.event_type = 'purchase' AND x1.ts_us > e.ts_us
        |        AND x1.ts_us < a.a_us + $H72
        |        AND EXISTS (SELECT 1 FROM ev x2 WHERE x2.user_id = a.user_id
        |          AND x2.event_type = 'click' AND x2.ts_us > x1.ts_us
        |          AND x2.ts_us < a.a_us + $H72
        |          AND EXISTS (SELECT 1 FROM ev x3 WHERE x3.user_id = a.user_id
        |            AND x3.event_type = 'purchase' AND x3.ts_us > x2.ts_us
        |            AND x3.ts_us < a.a_us + $H72)))
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c1.ts_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x2 WHERE x2.user_id = a.user_id
        |        AND x2.event_type = 'click' AND x2.ts_us > e.ts_us
        |        AND x2.ts_us < a.a_us + $H72
        |        AND EXISTS (SELECT 1 FROM ev x3 WHERE x3.user_id = a.user_id
        |          AND x3.event_type = 'purchase' AND x3.ts_us > x2.ts_us
        |          AND x3.ts_us < a.a_us + $H72))
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > p1.ts_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x3 WHERE x3.user_id = a.user_id
        |        AND x3.event_type = 'purchase' AND x3.ts_us > e.ts_us
        |        AND x3.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c2 ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p2 ON true),
        |k1 AS (
        |  SELECT a.user_id, a.a_id, c1.event_id AS c1_id, p1.event_id AS p1_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x1 WHERE x1.user_id = a.user_id
        |        AND x1.event_type = 'purchase' AND x1.ts_us > e.ts_us
        |        AND x1.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c1 ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c1.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p1 ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p2_id AS end_id,
        |  a_id || ',' || c1_id || ',' || p1_id || ',' || c2_id || ',' || p2_id
        |    AS chain, 'G:2' AS counts
        |FROM k2
        |UNION ALL
        |SELECT k1.user_id, k1.a_id, k1.p1_id,
        |  k1.a_id || ',' || k1.c1_id || ',' || k1.p1_id, 'G:1'
        |FROM k1
        |ORDER BY key, anchor_id, counts""".stripMargin) { (s, dir) =>
      // r14: a TRAILING group under the committed scan binds the
      // MINIMAL extent (the k=1 completion emits first and the
      // prune discards the extension) — the every-extent shape rides
      // NO SKIP: one row per extent k = 1, 2
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("G", "", GroupTimes(
            Seq(Step("C", "click"), Step("P", "purchase")), 1, 2))), H72, NoSkip))
        .orderBy("key", "anchor_id", "counts")
    },

    // NO SKIP (AfterMatchSkipStrategy.noSkip()): EVERY match is
    // emitted — per anchor, all binding variants the pattern allows.
    // With (A C? P) both Optional branches emit when each completes:
    // the cep5 oracle's two CTEs WITHOUT the exclusivity filter.
    q("cep15_no_skip",
      s"""WITH $evSql,
        |wcp AS (
        |  SELECT a.user_id, a.a_id, c.event_id AS c_id, p.event_id AS p_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2
        |      AND EXISTS (SELECT 1 FROM ev p2 WHERE p2.user_id = a.user_id
        |        AND p2.event_type = 'purchase' AND p2.ts_us > e.ts_us
        |        AND p2.ts_us < a.a_us + $H2)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c.ts_us AND e.ts_us < a.a_us + $H2
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |ap AS (
        |  SELECT a.user_id, a.a_id, p.event_id AS p_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || c_id || ',' || p_id AS chain, '' AS counts FROM wcp
        |UNION ALL
        |SELECT ap.user_id, ap.a_id, ap.p_id, ap.a_id || ',' || ap.p_id, ''
        |FROM ap
        |ORDER BY key, anchor_id, chain""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("C", "click", Optional),
          Step("P", "purchase")), H2, NoSkip))
        .orderBy("key", "anchor_id", "chain")
    },

    // RELUCTANT quantifier B+? (the reference's non-greedy
    // MATCH_RECOGNIZE quantifiers): the loop binds the FEWEST elements
    // whose remainder completes. Under STRICT contiguity with disjoint
    // kinds the viable extent is unique (the run of adjacent clicks —
    // a shorter extent would ask P to bind a click), so reluctant and
    // greedy coincide here; the grammar + k-ascending search is the
    // thing under test (the divergent overlapping-DEFINE case is
    // pinned by MatchStrictSpec's doc Ticker vector). Full SQL
    // statement surface.
    q("mr7_reluctant",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    lc.event_id AS b_last_id, p.event_id AS p_id
        |  FROM r
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, erun - a_rn - 1 AS n_b, b_last_id, p_id
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr7_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr7_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           COUNT(B.event_id) AS n_b,
          |           LAST(B.event_id) AS b_last_id,
          |           P.event_id AS p_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B+? P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup', B AS event_type = 'click',
          |         P AS event_type = 'purchase'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // Reluctant {2,3}? — SMALLEST extent first: exactly cep8's
    // greedy-range pattern with the preference order flipped (two
    // clicks suffice when a purchase follows them; only a dead second
    // click escalates to three).
    q("cep16_reluctant_range",
      s"""WITH $evSql,
        |m AS (
        |  SELECT a.user_id, a.a_id, b1.event_id AS b1_id, b2.event_id AS b2_id,
        |    b3.event_id AS b3_id, p3.event_id AS p3_id, p2.event_id AS p2_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > b1.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b2 ON true
        |  LEFT JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > b2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b3 ON true
        |  LEFT JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b3.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p3 ON true
        |  LEFT JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p2 ON true)
        |SELECT user_id AS key, a_id AS anchor_id,
        |  CASE WHEN p2_id IS NOT NULL THEN p2_id ELSE p3_id END AS end_id,
        |  CASE WHEN p2_id IS NOT NULL
        |    THEN a_id || ',' || b1_id || ',' || b2_id || ',' || p2_id
        |    ELSE a_id || ',' || b1_id || ',' || b2_id || ',' || b3_id || ',' || p3_id
        |    END AS chain,
        |  '' AS counts
        |FROM m
        |WHERE p2_id IS NOT NULL OR (b3_id IS NOT NULL AND p3_id IS NOT NULL)
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("clicks", "click", TimesRange(2, 3, reluctant = true)),
          Step("purchase", "purchase")), H72))
        .orderBy("key", "anchor_id")
    },

    // notNext (Pattern.java notNext — the strict single-position
    // negative): signup → purchase within 72h, where only the event
    // IMMEDIATELY ADJACENT to the signup must not be an error —
    // contrast cep6's notFollowedBy, which bans errors anywhere
    // between the bindings.
    q("cep17_not_next",
      s"""WITH $evSql
        |SELECT a.user_id AS key, a.a_id AS anchor_id, p.event_id AS end_id,
        |  a.a_id || ',' || p.event_id AS chain, '' AS counts
        |FROM a
        |JOIN LATERAL (SELECT e.event_id FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |  ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true
        |WHERE NOT EXISTS (SELECT 1 FROM ev e
        |  WHERE e.user_id = a.user_id AND e.rn = a.a_rn + 1
        |    AND e.event_type = 'error')
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("noerr", "error", NotNext),
          Step("purchase", "purchase")), H72))
        .orderBy("key", "anchor_id")
    },

    // timesOrMore via the CLAUSE grammar (SQL B{2,} — the reference
    // compiles it to timesOrMore(2).consecutive().greedy(),
    // StreamExecMatch.scala:437): STRICT contiguity — the committed
    // run of ADJACENT clicks must reach length 2, and the purchase is
    // the row that ends it. (The CEP API door's relaxed
    // timesOrMore absorb loop stays pinned by st43.)
    q("cep18_times_or_more",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_rn, r.erun,
        |    b1.event_id AS b1_id, p.event_id AS p_id
        |  FROM r
        |  JOIN ev b1 ON b1.user_id = r.user_id AND b1.rn = r.a_rn + 1
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 2
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || b1_id || ',' || p_id AS chain,
        |  'B:' || (erun - a_rn - 1) AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      graft.operators.MatchRecognize.run(s, events(s, dir),
          """MATCH_RECOGNIZE (
            |  PARTITION BY key ORDER BY ts
            |  AFTER MATCH SKIP TO NEXT ROW
            |  PATTERN (A B{2,} P)
            |  WITHIN INTERVAL '72' HOUR
            |  DEFINE A AS kind = 'signup', B AS kind = 'click',
            |         P AS kind = 'purchase'
            |)""".stripMargin)
        .orderBy("key", "anchor_id")
    },

    // next (Pattern.java next — strict single-step contiguity): the
    // purchase must be the event IMMEDIATELY ADJACENT to the signup in
    // the per-user sequence, vs followedBy's any-gap relation.
    q("cep19_next",
      s"""WITH $evSql
        |SELECT a.user_id AS key, a.a_id AS anchor_id, e.event_id AS end_id,
        |  a.a_id || ',' || e.event_id AS chain, '' AS counts
        |FROM a JOIN ev e ON e.user_id = a.user_id AND e.rn = a.a_rn + 1
        |  AND e.event_type = 'purchase'
        |  AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("P", "purchase", Next)), H2))
        .orderBy("key", "anchor_id")
    },

    // followedByAny (Pattern.java followedByAny — relaxed contiguity
    // WITH any match): EVERY purchase in the window spawns its own
    // match, where followedBy commits to the earliest.
    q("cep20_followed_by_any",
      s"""WITH $evSql
        |SELECT a.user_id AS key, a.a_id AS anchor_id, e.event_id AS end_id,
        |  a.a_id || ',' || e.event_id AS chain, '' AS counts
        |FROM a JOIN ev e ON e.user_id = a.user_id
        |  AND e.event_type = 'purchase'
        |  AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H6
        |ORDER BY key, anchor_id, chain""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("P", "purchase", AnyOne)), H6, NoSkip))
        .orderBy("key", "anchor_id", "chain")
    },

    // Zero-or-more B* (Pattern.oneOrMore().optional().consecutive()):
    // under STRICT contiguity the committed greedy run is the maximal
    // streak of adjacent clicks (possibly empty — the purchase then
    // sits right next to the signup); COUNT(B) pins the extent. Full
    // SQL statement surface.
    q("mr8_zero_or_more",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    p.event_id AS p_id
        |  FROM r
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  LEFT JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |    AND r.erun > r.a_rn + 1
        |  WHERE p.event_type = 'purchase' AND p.ts_us < r.a_us + $H2
        |    AND (r.erun = r.a_rn + 1 OR lc.ts_us < r.a_us + $H2))
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, erun - a_rn - 1 AS n_b, p_id
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr8_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr8_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           COUNT(B.event_id) AS n_b,
          |           P.event_id AS p_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B* P)
          |  WITHIN INTERVAL '2' HOUR
          |  DEFINE A AS event_type = 'signup', B AS event_type = 'click',
          |         P AS event_type = 'purchase'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // RUNNING AGGREGATES in DEFINE (MatchRecognizeITCase
    // testAggregates: `SUM(A.price) < 6`, cross-variable
    // `SUM(B.price * B.rate) < SUM(A.price)`, `AVG(B.price) >= 1` —
    // aggregates over the partial match's bound rows evaluated DURING
    // the NFA scan) plus aggregate/COUNT(*) MEASURES. STRICT committed
    // greedy: the B loop self-caps through the running COUNT — a 5th
    // adjacent click fails B's own DEFINE, so the loop exits THERE and
    // P must bind that very click (dead); only runs of 1..4 adjacent
    // clicks whose ending row is a qualifying purchase match. P's
    // DEFINE reads AVG/SUM over B's final bound set.
    q("mr9_define_aggregates",
      s"""WITH $evRunSql,
        |agg AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    count(*) AS n_b, sum(b.value) AS sum_b, avg(b.value) AS avg_b,
        |    max(b.ts_us) AS lc_us
        |  FROM r JOIN ev b ON b.user_id = r.user_id
        |    AND b.rn BETWEEN r.a_rn + 1 AND r.erun - 1
        |  WHERE r.erun - r.a_rn - 1 BETWEEN 1 AND 4
        |  GROUP BY ALL),
        |m AS (
        |  SELECT g.*, p.value AS p_val
        |  FROM agg g
        |  JOIN ev p ON p.user_id = g.user_id AND p.rn = g.erun
        |  WHERE g.lc_us < g.a_us + $H72
        |    AND g.sum_b > 100
        |    AND p.event_type = 'purchase' AND p.ts_us < g.a_us + $H72
        |    AND p.value > g.avg_b)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, round(sum_b, 6) AS sum_b, round(avg_b, 6) AS avg_b,
        |  n_b, n_b + 2 AS n_rows, p_val AS p_value
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr9_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr9_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           ROUND(SUM(B.value), 6) AS sum_b,
          |           ROUND(AVG(B.value), 6) AS avg_b,
          |           COUNT(B.event_id) AS n_b,
          |           COUNT(*) AS n_rows,
          |           P.value AS p_value
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B+ P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         B AS event_type = 'click' AND COUNT(B.event_id) <= 4,
          |         P AS event_type = 'purchase' AND P.value > AVG(B.value)
          |           AND SUM(B.value) > 100
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // AFTER MATCH SKIP TO LAST B (AfterMatchSkipStrategy.java
    // skipToLast — cep13's mirror): anchors re-arm AT the LAST event
    // bound to B (inclusive). With the B+ absorb loop the bound set is
    // every click before the purchase, so the re-arm point is the last
    // such click — strictly later than cep13's first-click re-arm
    // whenever the loop bound more than one event, which is where the
    // two strategies provably diverge at this horizon. Recursive-CTE
    // oracle = cep13's greedy re-arm scan with the re-arm row switched
    // to max(click rn before the purchase).
    q("cep21_skip_to_last",
      s"""WITH RECURSIVE $evSql,
        |cand AS (
        |  SELECT a.user_id, a.a_id, a.a_rn, a.a_us, b.b_id,
        |    p.p_id, p.p_us,
        |    (SELECT max(e.rn) FROM ev e WHERE e.user_id = a.user_id
        |      AND e.event_type = 'click' AND e.ts_us > a.a_us
        |      AND e.ts_us < p.p_us AND e.ts_us < a.a_us + $H72) AS bk_rn
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id AS b_id, e.rn AS b_rn,
        |      e.ts_us AS b_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev p2 WHERE p2.user_id = a.user_id
        |        AND p2.event_type = 'purchase' AND p2.ts_us > e.ts_us
        |        AND p2.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b ON true
        |  JOIN LATERAL (SELECT e.event_id AS p_id, e.ts_us AS p_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b.b_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |rec AS (
        |  SELECT user_id, a_id, a_rn, a_us, b_id, bk_rn, p_id, p_us FROM (
        |    SELECT c.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY a_rn) AS pick
        |    FROM cand c) WHERE pick = 1
        |  UNION ALL
        |  SELECT user_id, a_id, a_rn, a_us, b_id, bk_rn, p_id, p_us FROM (
        |    SELECT c.user_id, c.a_id, c.a_rn, c.a_us, c.b_id, c.bk_rn,
        |      c.p_id, c.p_us,
        |      row_number() OVER (PARTITION BY c.user_id ORDER BY c.a_rn) AS pick
        |    FROM cand c JOIN rec r ON c.user_id = r.user_id
        |      AND c.a_rn >= r.bk_rn)
        |  WHERE pick = 1)
        |SELECT r.user_id AS key, r.a_id AS anchor_id, r.p_id AS end_id,
        |  r.a_id || ',' || r.b_id || ',' || r.p_id AS chain,
        |  'B:' || (SELECT count(*) FROM ev e WHERE e.user_id = r.user_id
        |    AND e.event_type = 'click' AND e.ts_us > r.a_us
        |    AND e.ts_us < r.p_us AND e.ts_us < r.a_us + $H72) AS counts
        |FROM rec r ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("B", "click", OneOrMore()),
          Step("P", "purchase")), H72, SkipToLast("B")))
        .orderBy("key", "anchor_id")
    },

    // SUBSET union variables (SQL:2016 SUBSET U = (A, B); the
    // reference plans subsets in StreamExecMatch.scala:117-118 and the
    // vendored SqlMatchRecognize grammar): U = (C, P) is navigable in
    // MEASURES (FIRST/LAST/SUM/COUNT over the members' merged
    // bindings) and in DEFINE (P's predicate reads FIRST(U.value) —
    // the click's value, since the candidate is U's latest binding).
    // Every measure here provably differs from any single member:
    // FIRST(U)=C, LAST(U)=P, SUM(U)=C+P, COUNT(U)=2.
    q("mr10_subset",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |      FROM ev WHERE event_type = 'signup'),
        |m AS (
        |  SELECT a.user_id, a.a_id, a.a_us, c.value AS c_val, p.value AS p_val
        |  FROM a
        |  JOIN ev c ON c.user_id = a.user_id AND c.rn = a.a_rn + 1
        |    AND c.event_type = 'click' AND c.ts_us < a.a_us + $H72
        |  JOIN ev p ON p.user_id = a.user_id AND p.rn = a.a_rn + 2
        |    AND p.event_type = 'purchase' AND p.value > c.value
        |    AND p.ts_us < a.a_us + $H72)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, c_val AS first_u, p_val AS last_u,
        |  round(c_val + p_val, 6) AS sum_u, CAST(2 AS BIGINT) AS n_u
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr10_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr10_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           FIRST(U.value) AS first_u,
          |           LAST(U.value) AS last_u,
          |           ROUND(SUM(U.value), 6) AS sum_u,
          |           COUNT(U.event_id) AS n_u
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A C P)
          |  SUBSET U = (C, P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         C AS event_type = 'click',
          |         P AS event_type = 'purchase' AND P.value > FIRST(U.value)
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // RUNNING vs FINAL measure keywords in ALL ROWS PER MATCH
    // (SQL:2016; the reference's MatchCodeGenerator.scala:355 handles
    // FINAL explicitly and RUNNING semantics in ALL ROWS): per output
    // row, RUNNING aggregates frame to the current row — diverging
    // from FINAL on every multi-row match — and RUNNING LAST tracks
    // the latest bound value so far (NULL before the first B row).
    // Oracle: the match's exploded rows with the same two window
    // frames (running prefix / whole match).
    q("mr11_running_measures",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun
        |  FROM r
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72),
        |mm AS (
        |  SELECT m.*, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_no
        |  FROM m),
        |rws AS (
        |  SELECT mm.user_id, mm.match_no, e.rn,
        |    CASE WHEN e.rn = mm.a_rn THEN 'A'
        |         WHEN e.rn = mm.erun THEN 'P' ELSE 'B' END AS classifier,
        |    e.event_id,
        |    CASE WHEN e.rn > mm.a_rn AND e.rn < mm.erun
        |      THEN e.event_id END AS b_id,
        |    CASE WHEN e.rn > mm.a_rn AND e.rn < mm.erun
        |      THEN e.value END AS b_val
        |  FROM mm JOIN ev e ON e.user_id = mm.user_id
        |    AND e.rn BETWEEN mm.a_rn AND mm.erun)
        |SELECT user_id AS key, match_no, classifier, event_id,
        |  count(b_id) OVER w AS rn_b,
        |  round(sum(b_val) OVER w, 6) AS rsum_b,
        |  arg_max(b_val, CASE WHEN b_id IS NOT NULL THEN rn END)
        |    OVER w AS rlast_b,
        |  round(sum(b_val) OVER (PARTITION BY user_id, match_no), 6) AS fsum_b,
        |  count(b_id) OVER (PARTITION BY user_id, match_no) AS n_b
        |FROM rws
        |WINDOW w AS (PARTITION BY user_id, match_no ORDER BY rn
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY key, match_no, event_id""".stripMargin) { (s, dir) =>
      graft.operators.MatchRecognize.run(s,
          t(s, dir)("events").select(
            col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("id"), col("event_type").as("kind"),
            col("value")),
          """MATCH_RECOGNIZE (
            |  PARTITION BY key ORDER BY ts
            |  MEASURES RUNNING COUNT(B.event_id) AS rn_b,
            |           RUNNING ROUND(SUM(B.value), 6) AS rsum_b,
            |           RUNNING LAST(B.value) AS rlast_b,
            |           FINAL ROUND(SUM(B.value), 6) AS fsum_b,
            |           FINAL COUNT(B.event_id) AS n_b
            |  ALL ROWS PER MATCH
            |  AFTER MATCH SKIP TO NEXT ROW
            |  PATTERN (A B+ P)
            |  WITHIN INTERVAL '72' HOUR
            |  DEFINE A AS kind = 'signup', B AS kind = 'click',
            |         P AS kind = 'purchase'
            |)""".stripMargin)
        .orderBy("key", "match_no", "event_id")
    },

    // CLASSIFIER() measure (SQL:2016; the reference's MATCH_RECOGNIZE
    // exposes it): the pattern variable of the match's LAST row —
    // non-vacuous here because the trailing variable is OPTIONAL, so
    // the classifier is 'C' when a purchase bound and 'B' when the
    // greedy click loop ended the match.
    q("mr13_classifier",
      s"""WITH $evRunSql,
        |rr AS (
        |  SELECT r.*, coalesce(r.erun,
        |    (SELECT max(x.rn) + 1 FROM ev x
        |     WHERE x.user_id = r.user_id)) AS eend
        |  FROM r),
        |m AS (
        |  SELECT rr.user_id, rr.a_id, rr.a_us, rr.a_rn, rr.eend,
        |    CASE WHEN p.event_type = 'purchase'
        |      AND p.ts_us < rr.a_us + $H72 THEN 'C' ELSE 'B' END AS last_var
        |  FROM rr
        |  JOIN ev lc ON lc.user_id = rr.user_id AND lc.rn = rr.eend - 1
        |  LEFT JOIN ev p ON p.user_id = rr.user_id AND p.rn = rr.eend
        |  WHERE rr.eend > rr.a_rn + 1 AND lc.ts_us < rr.a_us + $H72)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, eend - a_rn - 1 AS n_b, last_var
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr13_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr13_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           COUNT(B.event_id) AS n_b,
          |           CLASSIFIER() AS last_var
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B+ C?)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         B AS event_type = 'click',
          |         C AS event_type = 'purchase'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // MATCH_ROWTIME() measure (FlinkSqlOperatorTable MATCH_ROWTIME —
    // the match's event-time attribute, used to cascade a window onto
    // MATCH_RECOGNIZE output; r10): the rowtime of the match's LAST
    // row. Oracle = each signup's first purchase within the window;
    // the purchase's own ts is the match rowtime.
    q("mr14_match_rowtime",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, ts
        |  FROM events),
        |a AS (SELECT user_id, event_id AS s_id, ts_us AS a_us
        |      FROM ev WHERE event_type = 'signup'),
        |m AS (
        |  SELECT a.user_id, a.s_id, p.ts AS mrt
        |  FROM a
        |  JOIN LATERAL (SELECT e.ts FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id, s_id, mrt
        |FROM m ORDER BY user_id, s_id""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr14_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr14_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES FIRST(A.event_id) AS s_id,
          |           MATCH_ROWTIME() AS mrt
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A E*? P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         E AS event_type <> 'purchase',
          |         P AS event_type = 'purchase'
          |) AS T ORDER BY user_id, s_id""".stripMargin)
    },

    // WINDOWED GROUPING APPLIED TO MATCH_RECOGNIZE (the reference's
    // MatchRecognizeITCase.testWindowedGroupingAppliedToMatchRecognize
    // — the composition MATCH_ROWTIME() exists for): the statement
    // facade's output re-enters the group-window text surface, and
    // matches bucket into tumbling days by their OWN rowtime. One
    // pass each: the NFA scan shuffles on (key), the window agg on
    // the day bucket.
    q("mr15_windowed_match",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, ts
        |  FROM events),
        |a AS (SELECT user_id, event_id AS s_id, ts_us AS a_us
        |      FROM ev WHERE event_type = 'signup'),
        |m AS (
        |  SELECT a.user_id, p.ts AS mrt
        |  FROM a
        |  JOIN LATERAL (SELECT e.ts FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT CAST(date_trunc('day', mrt) AS TIMESTAMP) AS day,
        |  count(*) AS n_matches
        |FROM m GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr15_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr15_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_ROWTIME() AS mrt
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A E*? P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         E AS event_type <> 'purchase',
          |         P AS event_type = 'purchase')""".stripMargin)
        .createOrReplaceTempView("mr15_matches")
      s.sql(
        """SELECT TUMBLE_START(mrt, INTERVAL '1' DAY) AS day,
          |       count(*) AS n_matches
          |FROM mr15_matches
          |GROUP BY TUMBLE(mrt, INTERVAL '1' DAY)
          |ORDER BY day""".stripMargin)
    },

    // MATCH_RECOGNIZE APPLIED TO WINDOWED GROUPING (the converse
    // composition — MatchRecognizeITCase
    // .testMatchRecognizeAppliedToWindowedGrouping): hourly per-user
    // counts from the group-window text surface feed the NFA, which
    // finds consecutive buckets with a RISING count (cross-variable
    // DEFINE n > FIRST(A.n)).
    q("mr16_match_over_windows",
      s"""WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hr,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, hr, n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY hr) AS rn
        |  FROM h)
        |SELECT a.user_id AS user_id, a.hr AS a_hr, b.n AS b_n
        |FROM r a JOIN r b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |  AND b.n > a.n AND epoch_us(b.hr) < epoch_us(a.hr) + $H72
        |ORDER BY a.user_id, a_hr""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr16_events")
      s.sql(
        """SELECT user_id, TUMBLE_START(ts, INTERVAL '1' HOUR) AS hr,
          |  count(*) AS n,
          |  unix_seconds(TUMBLE_START(ts, INTERVAL '1' HOUR)) AS id
          |FROM mr16_events
          |GROUP BY user_id, TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin)
        .createOrReplaceTempView("mr16_hourly")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr16_hourly MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY hr
          |  MEASURES FIRST(A.hr) AS a_hr, LAST(R.n) AS b_n
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A R)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS n > 0,
          |         R AS n > FIRST(A.n)
          |) AS T ORDER BY user_id, a_hr""".stripMargin)
    },

    // {,m} quantifier (match_recognize.md:357 — between 0 and m rows,
    // m > 0; r10 flagged the grammar gap): B{,2} under strict
    // committed-greedy munches at most TWO adjacent clicks; a THIRD
    // adjacent click means the purchase must bind that click's row —
    // dead. Oracle: the consecutive click run must be 0..2 long and
    // the row ending it a purchase within the window.
    q("mr17_zero_to_m",
      s"""WITH $evRunSql,
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    p.event_id AS p_id
        |  FROM r
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  LEFT JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |    AND r.erun > r.a_rn + 1
        |  WHERE r.erun - r.a_rn - 1 <= 2
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H2
        |    AND (r.erun = r.a_rn + 1 OR lc.ts_us < r.a_us + $H2))
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, erun - a_rn - 1 AS n_b, p_id
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr17_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr17_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           COUNT(B.event_id) AS n_b,
          |           P.event_id AS p_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B{,2} P)
          |  WITHIN INTERVAL '2' HOUR
          |  DEFINE A AS event_type = 'signup', B AS event_type = 'click',
          |         P AS event_type = 'purchase'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // TYPE-GENERAL navigation operands (IterativeCondition.java:52
    // allows arbitrary-typed conditions; r8's NavExpr algebra was
    // numeric-bound): string columns ride the NFA scan in a parallel
    // string array — B compares its props against LAST(A.props)
    // (string inequality on a varying column), and P's PREV navigates
    // the PHYSICAL predecessor's event_type against a string literal
    // (under strict contiguity PREV(1) of P is the bound B click, so
    // the conjunct holds by construction — it still exercises the
    // typed-PREV scan path; the oracle mirrors it as b.event_type <>
    // 'error'). NULL string semantics match SQL (NULL comparisons are
    // false).
    q("mr12_string_navigation",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, props, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn,
        |        props AS a_props FROM ev WHERE event_type = 'signup'),
        |m AS (
        |  SELECT a.user_id, a.a_id, a.a_us, b.event_id AS b_id,
        |    b.props AS b_props, p.event_id AS p_id
        |  FROM a
        |  JOIN ev b ON b.user_id = a.user_id AND b.rn = a.a_rn + 1
        |    AND b.event_type = 'click' AND b.props <> a.a_props
        |    AND b.ts_us < a.a_us + $H72
        |  JOIN ev p ON p.user_id = a.user_id AND p.rn = a.a_rn + 2
        |    AND p.event_type = 'purchase' AND p.ts_us < a.a_us + $H72
        |    AND b.event_type <> 'error')
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, b_id, b_props, p_id
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr12_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr12_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           LAST(B.event_id) AS b_id,
          |           B.props AS b_props,
          |           P.event_id AS p_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         B AS event_type = 'click' AND B.props <> LAST(A.props),
          |         P AS event_type = 'purchase'
          |           AND PREV(event_type, 1) <> 'error'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // CONSECUTIVE (loop-interior STRICT) unbounded loops (r11 —
    // Pattern.java oneOrMore().consecutive(); NFAITCase
    // testStrictOneOrMore pins entry-relaxed/interior-strict): the
    // click run must be PHYSICALLY ADJACENT in the per-user (ts, id)
    // sequence — any other event ends it — while the entry into the
    // run and the purchase after it keep the relaxed relation.
    // Oracle: gaps-and-islands on the per-user rn — the committed
    // match is the FIRST island after the anchor that lies fully
    // inside the window and is followed by an in-window purchase
    // r14: the run starts at the FIRST island after the anchor (the
    // reference's waiting state is consumed by the first takeable
    // click — no advance to later islands when the purchase is
    // missing); the purchase requirement applies to THAT island.
    q("cep22_consecutive_run",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |cl AS (
        |  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM ev WHERE event_type = 'click'),
        |isl AS (
        |  SELECT user_id, grp, min(rn) AS s_rn, max(rn) AS e_rn,
        |    min(ts_us) AS s_us, max(ts_us) AS e_us, count(*) AS n,
        |    arg_min(event_id, rn) AS s_id
        |  FROM cl GROUP BY 1, 2),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |      FROM ev WHERE event_type = 'signup'),
        |cand AS (
        |  SELECT a.user_id, a.a_id, a.a_us, i.s_rn, i.e_rn, i.s_id, i.n,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY i.s_rn) AS pick
        |  FROM a JOIN isl i ON i.user_id = a.user_id AND i.s_rn > a.a_rn
        |    AND i.s_us < a.a_us + $H72 AND i.e_us < a.a_us + $H72),
        |m AS (
        |  SELECT c.user_id, c.a_id, c.s_id, c.n, p.p_id
        |  FROM cand c
        |  JOIN LATERAL (SELECT e.event_id AS p_id FROM ev e
        |    WHERE e.user_id = c.user_id AND e.event_type = 'purchase'
        |      AND e.rn > c.e_rn AND e.ts_us < c.a_us + $H72
        |    ORDER BY e.rn LIMIT 1) p ON true
        |  WHERE c.pick = 1)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || s_id || ',' || p_id AS chain, 'B:' || n AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("B", "click", OneOrMore(consecutive = true)),
          Step("P", "purchase")), H72))
        .orderBy("key", "anchor_id")
    },

    // PER-BRANCH timeout side output (flink-cep NFA.advanceTime /
    // NFAITCase testSimplePatternWithTimeoutHandling, r12): with ANY
    // relations every live partial branch expires separately, stamped
    // with the anchor's deadline — one bare-anchor stay per signup
    // (waiting on the ANY click step) plus one branch per click bound
    // inside the (exclusive) window, REGARDLESS of whether the anchor
    // also fully matched. Oracle: anchors × (1 + in-window clicks).
    q("cep23_timeout_branches",
      s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us FROM ev
        |      WHERE event_type = 'signup')
        |SELECT * FROM (
        |  SELECT user_id AS key, a_id AS anchor_id, a_id AS last_id,
        |    CAST(a_id AS VARCHAR) AS chain, 1 AS n_bound,
        |    a_us + $H2 AS timeout_us
        |  FROM a
        |  UNION ALL
        |  SELECT a.user_id, a.a_id, c.event_id,
        |    a.a_id || ',' || c.event_id, 2, a.a_us + $H2
        |  FROM a JOIN ev c ON c.user_id = a.user_id
        |    AND c.event_type = 'click'
        |    AND c.ts_us > a.a_us AND c.ts_us < a.a_us + $H2)
        |ORDER BY key, anchor_id, n_bound, last_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("A", "signup"),
          Step("C", "click", AnyOne),
          Step("P", "purchase", AnyOne)), H2), BranchTimeouts)
        .orderBy("key", "anchor_id", "n_bound", "last_id")
    },

    // LOOP-FIRST pattern on the relaxed door (r12 — the reference's
    // NFA anchors a run on EVERY loop-kind event; NFAITCase
    // testStartWithTimes shape, linear because the consecutive pair
    // is adjacency-bounded): PATTERN (C{2 consecutive} P) — every
    // ADJACENT click pair anchors, the earliest purchase after the
    // pair inside the (exclusive) window completes. Oracle:
    // rn-adjacency pairs + lateral earliest purchase.
    q("cep24_loop_first",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |pr AS (
        |  SELECT c1.user_id, c1.event_id AS c1_id, c1.ts_us AS c1_us,
        |    c2.event_id AS c2_id, c2.ts_us AS c2_us
        |  FROM ev c1 JOIN ev c2 ON c2.user_id = c1.user_id
        |    AND c2.rn = c1.rn + 1
        |  WHERE c1.event_type = 'click' AND c2.event_type = 'click'
        |    AND c2.ts_us < c1.ts_us + $H72),
        |m AS (
        |  SELECT pr.user_id, pr.c1_id, pr.c2_id, p.p_id
        |  FROM pr JOIN LATERAL (
        |    SELECT e.event_id AS p_id FROM ev e
        |    WHERE e.user_id = pr.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > pr.c2_us AND e.ts_us < pr.c1_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, c1_id AS anchor_id, p_id AS end_id,
        |  c1_id || ',' || c2_id || ',' || p_id AS chain, '' AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("C", "click", Times(2, consecutive = true)),
          Step("P", "purchase")), H72, NoSkip))
        .orderBy("key", "anchor_id")
    },

    // MULTI-COLUMN, STRING-TYPED PARTITION BY (the reference allows
    // any number of partition columns of any type —
    // MatchRecognizeITCase testCodeSplitsAreProperlyGenerated
    // partitions by two strings; r11 lifted this door's one-integral-
    // column restriction): each (user_id, event_type) subsequence is
    // its own contiguous stream — a match is an ADJACENT pair in THAT
    // subsequence with a rising value. The surrogate state key is
    // xxhash64 over the tuple with an injectivity gate; the output
    // joins the tuple columns back. Oracle: rn-adjacency per
    // (user_id, event_type).
    q("mr18_multi_key_partition",
      s"""WITH ev AS (
        |  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |m AS (
        |  SELECT a.user_id, a.event_type, a.event_id AS a_id,
        |    b.event_id AS r_id, a.rn AS a_rn
        |  FROM ev a JOIN ev b ON b.user_id = a.user_id
        |    AND b.event_type = a.event_type AND b.rn = a.rn + 1
        |    AND b.value > a.value AND b.ts_us < a.ts_us + $H72)
        |SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY a_rn) AS match_seq,
        |  a_id, r_id
        |FROM m ORDER BY user_id, event_type, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr18_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr18_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id, event_type
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           LAST(R.event_id) AS r_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A R)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE R AS value > A.value
          |) AS T ORDER BY user_id, event_type, match_seq""".stripMargin)
    },

    // SCALAR-EXPRESSION MEASURES AND DEFINE FUNCTION CALLS (r11 —
    // MatchRecognizeITCase testUserDefinedFunctions registers scalar
    // UDFs in both DEFINE and MEASURES; the oracle twin uses builtins
    // both engines share): DEFINE's row-local conjunct calls
    // upper(), the measure projects concat(upper(...)) over the
    // matched variable's row. Strict adjacency: signup immediately
    // followed by a click.
    q("mr20_scalar_fn_measures",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, props, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |m AS (
        |  SELECT a.user_id, a.event_id AS a_id, a.rn AS a_rn,
        |    concat('T:', upper(b.props)) AS b_tag
        |  FROM ev a JOIN ev b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |    AND a.event_type = 'signup'
        |    AND upper(b.event_type) = 'CLICK'
        |    AND b.ts_us < a.ts_us + $H72)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_rn) AS match_seq, a_id, b_tag
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events").createOrReplaceTempView("mr20_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr20_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           concat('T:', upper(B.props)) AS b_tag
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'signup',
          |         B AS upper(B.event_type) = 'CLICK'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // SECONDARY ORDER BY COLUMNS (MatchRecognizeITCase
    // testEventsAreProperlyOrdered orders by rowtime, secondaryOrder
    // DESC, ternaryOrder ASC; r11): hour-truncated timestamps make
    // REAL ties, which `value DESC, event_id` breaks — the canonical
    // sequence id becomes row_number over the declared order (its
    // window shuffle is the NFA's own key shuffle, reused), and
    // strict adjacency follows that total order. A match is an
    // adjacent click pair in the (hr, value DESC) order.
    q("mr19_secondary_order",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |    date_trunc('hour', ts) AS hr,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('hour', ts), value DESC, event_id) AS rn
        |  FROM events),
        |m AS (
        |  SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |    a.rn AS a_rn
        |  FROM ev a JOIN ev b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |    AND a.event_type = 'click' AND b.event_type = 'click'
        |    AND epoch_us(b.hr) < epoch_us(a.hr) + $H72)
        |SELECT user_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_rn) AS match_seq, a_id, b_id
        |FROM m ORDER BY user_id, match_seq""".stripMargin) { (s, dir) =>
      t(s, dir)("events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), date_trunc("hour", col("ts")).as("hr"))
        .createOrReplaceTempView("mr19_events")
      graft.sources.MatchRecognizeSql.sql(s,
        """SELECT * FROM mr19_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY hr, value DESC
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.event_id) AS a_id,
          |           LAST(B.event_id) AS b_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS event_type = 'click', B AS event_type = 'click'
          |) AS T ORDER BY user_id, match_seq""".stripMargin)
    },

    // TIED-TIMESTAMP positional binding (r13 — the r12 VERDICT's top
    // item): hour-truncated timestamps make REAL ties (second/ms-
    // granularity event data ties constantly); relaxed contiguity is
    // POSITIONAL in the (ts, id) order, so same-ts neighbors bind with
    // the event_id tiebreak — the reference NFA's arrival-order
    // binding (NFAITCase testOneOrMore feeds middleEvent2/3 at one
    // timestamp, NFAITCase.java:2734-2735). WITHIN stays temporal on
    // the truncated time. Oracle: lexicographic (ts_us, event_id)
    // successor comparisons instead of the bare ts_us > of the
    // unique-ts queries.
    q("cep25_tied_positional",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('hour', ts)) AS ts_us
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us FROM ev
        |      WHERE event_type = 'signup')
        |SELECT a.user_id AS key, a.a_id AS anchor_id,
        |  p.event_id AS end_id,
        |  a.a_id || ',' || c.event_id || ',' || p.event_id AS chain,
        |  '' AS counts
        |FROM a
        |JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |    AND (e.ts_us > a.a_us OR (e.ts_us = a.a_us AND e.event_id > a.a_id))
        |    AND e.ts_us < a.a_us + $H6
        |  ORDER BY e.ts_us, e.event_id LIMIT 1) c ON true
        |JOIN LATERAL (SELECT e.event_id FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |    AND (e.ts_us > c.ts_us OR (e.ts_us = c.ts_us AND e.event_id > c.event_id))
        |    AND e.ts_us < a.a_us + $H6
        |  ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, t(s, dir)("events").select(
          col("user_id").as("key"),
          unix_micros(date_trunc("hour", col("ts"))).as("tsMicros"),
          col("event_id").as("id"), col("event_type").as("kind")),
        Pattern(Seq(Step("signup", "signup"), Step("click", "click"),
          Step("purchase", "purchase")), H6))
        .orderBy("key", "anchor_id")
    },

    // PER-BRANCH timeouts for LOOP interiors (r13 — the r12 VERDICT's
    // Missing #2: `A B+ C WITHIN …` through the BranchTimeouts emit). The
    // live set at an anchor's expiry, derived from the reference
    // NFA's computation-state evolution (NFA.java:573-706 + the
    // NFACompiler ignore/proceed edge table — see the branchTimeouts
    // scaladoc): the BARE anchor iff no click arrived in its window
    // (the waiting state dies on its first take); the loop prefix
    // c_1..c_k for k < K iff NO purchase follows c_k inside the
    // window (a following purchase either completes the prefix's
    // frozen proceed-sibling or proceed-takes before the sibling
    // spawns — either way the branch leaves); and the FULL run
    // c_1..c_K always (the active loop state survives purchases via
    // its relaxed ignore — match status never suppresses).
    q("cep26_timeout_branches_loop",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us FROM ev
        |      WHERE event_type = 'signup'),
        |c AS (
        |  SELECT a.user_id, a.a_id, a.a_us, e.event_id AS c_id,
        |    e.ts_us AS c_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY e.ts_us, e.event_id) AS k
        |  FROM a JOIN ev e ON e.user_id = a.user_id
        |    AND e.event_type = 'click'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H6),
        |pref AS (
        |  SELECT user_id, a_id, a_us, k, c_id, c_us,
        |    string_agg(c_id, ',') OVER (PARTITION BY user_id, a_id
        |      ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ids,
        |    count(*) OVER (PARTITION BY user_id, a_id) AS kmax
        |  FROM c)
        |SELECT user_id AS key, a_id AS anchor_id, c_id AS last_id,
        |  a_id || ',' || ids AS chain, 2 AS n_bound,
        |  a_us + $H6 AS timeout_us
        |FROM pref
        |WHERE k = kmax
        |   OR NOT EXISTS (SELECT 1 FROM ev p
        |        WHERE p.user_id = pref.user_id
        |          AND p.event_type = 'purchase'
        |          AND p.ts_us > pref.c_us
        |          AND p.ts_us < pref.a_us + $H6)
        |UNION ALL
        |SELECT a.user_id, a.a_id, a.a_id, CAST(a.a_id AS VARCHAR), 1,
        |  a.a_us + $H6
        |FROM a WHERE NOT EXISTS (SELECT 1 FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H6)
        |ORDER BY key, anchor_id, chain""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, events(s, dir), Pattern(Seq(
          Step("signup", "signup"),
          Step("click", "click", OneOrMore()),
          Step("purchase", "purchase")), H6), BranchTimeouts)
        .orderBy("key", "anchor_id", "chain")
    },

    // ITERATIVE UNTIL (r14 — Pattern.java:219 until(IterativeCondition);
    // UntilConditionITCase testIterativeUntilCondition*: the stop is a
    // RUNNING AGGREGATE over the partial match, not a per-event kind).
    // signup anchor; the click loop keeps absorbing while the SUM of
    // the values bound SO FAR stays under 120 (until is evaluated
    // PRE-take, so click k+1 binds iff sum(c_1..c_k) < 120). Values
    // are positive, so the bound set is a PREFIX — the oracle's
    // exclusive running sum mirrors the pre-take evaluation exactly.
    // NO SKIP (the reference harness's default): one row per run
    // PREFIX k = 1..n; chain/end_id carry the loop's FIRST element
    // (the emit() loop convention), counts pins each extent.
    q("cep27_iterative_until",
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, ts_us AS a_us FROM ev
        |      WHERE event_type = 'signup'),
        |c AS (
        |  SELECT a.user_id, a.a_id, e.event_id AS c_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY e.ts_us, e.event_id) AS k,
        |    coalesce(sum(e.value) OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY e.ts_us, e.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_sum
        |  FROM a JOIN ev e ON e.user_id = a.user_id
        |    AND e.event_type = 'click'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H6),
        |bound AS (SELECT * FROM c WHERE prev_sum < 120.0),
        |f AS (SELECT user_id, a_id,
        |        min(CASE WHEN k = 1 THEN c_id END) AS first_c
        |      FROM bound GROUP BY user_id, a_id)
        |SELECT f.user_id AS key, f.a_id AS anchor_id, f.first_c AS end_id,
        |  f.a_id || ',' || f.first_c AS chain, 'M:' || b.k AS counts
        |FROM f JOIN bound b ON b.user_id = f.user_id AND b.a_id = f.a_id
        |ORDER BY key, anchor_id, counts""".stripMargin) { (s, dir) =>
      PatternNFA.run(s, t(s, dir)("events").select(
          col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
          col("event_id").as("id"), col("event_type").as("kind"),
          col("value")),
        Pattern(Seq(Step("S", "S"), Step("M", "M", OneOrMore())), H6, NoSkip,
          preds = Seq("S" -> (col("kind") === "signup"),
            "M" -> (col("kind") === "click")),
          navCols = Seq("value"),
          untilCtx = Map("M" -> Seq(CtxCmp(">=",
            NavExpr.VarAgg("SUM", Seq("M"), NavExpr.Cur(0)),
            NavExpr.Lit(120.0))))))
        .orderBy("key", "anchor_id", "counts")
    })
}
