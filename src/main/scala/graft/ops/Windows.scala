package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Event-time window aggregations over `events` — the batch forms of the
  * reference's DStream windowing (Assignment6/task2.py:87-88). The same
  * aggregation bodies are reused by graft.streaming on a readStream
  * source (window() + watermark); batch runs here give them a DuckDB
  * oracle, streaming runs give them the micro-batch semantics.
  *
  * Scale: window() is a map-side bucket assignment (sliding windows emit
  * windowDuration/slideDuration rows per event) followed by a standard
  * partial+final aggregation — one shuffle on (window, keys).
  */
object Windows {

  /** q31: tumbling 1-hour windows — events, distinct users, avg value
    * per window per event type. */
  def hourlyWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        // Sum in DECIMAL so the aggregate is order-independent — float
        // summation order differs across engines and can flip the
        // rounding boundary (it did, at 4 decimals, on this data).
        // floor-half-up on the SCALED double, not round(): Spark
        // rounds the exact binary value HALF_UP while DuckDB rounds
        // the scaled double, and at sf0.1 one window's mean lands
        // exactly on a .xxxx5 boundary where the two disagree; the
        // scaled double is bit-identical in both engines, so floor on
        // it is too.
        (floor((sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1))) * 1e4 + 0.5) / 1e4).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_users"), col("avg_value"))
      .orderBy(col("window_start"), col("event_type"))

  val hourlyWindowSql: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
      |  event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |        / count(*) * 1e4 + 0.5) / 1e4 AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q32: sliding windows, 30 s length / 10 s slide (reference window
    * parameters, Assignment6/task2.py:88): per-window distinct users —
    * the exact ground-truth side of the FM comparison (ST3). Each event
    * lands in exactly windowDuration/slideDuration = 3 windows. To keep
    * the result driver-checkable it is restricted to the first day. */
  def slidingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("ts") < lit("2024-01-02").cast("timestamp"))
      .groupBy(window(col("ts"), "30 seconds", "10 seconds"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("n_users"))
      .orderBy(col("window_start"))

  val slidingWindowSql: String =
    """WITH e AS (
      |  SELECT ts, user_id,
      |    CAST(to_timestamp((CAST(floor(epoch(ts) / 10) AS BIGINT) - k) * 10)
      |      AS TIMESTAMP) AS window_start
      |  FROM events
      |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k) g
      |  WHERE ts < TIMESTAMP '2024-01-02')
      |SELECT window_start, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** q50: event-time sessionization — 30-minute-gap sessions per user
    * via `session_window` (merge while the next event lands strictly
    * inside [start, last + gap)). The per-user session boundary is the
    * core shape of clickstream/trace pipelines; in streaming the same
    * aggregate runs incrementally with a watermark. The DuckDB oracle
    * replays it as the classic gaps-and-islands window query (lag →
    * new-session flag → running sum → group), which shares Spark's
    * boundary rule: a gap ≥ 30 min starts a new session. */
  val SessionGapMinutes = 30

  def sessionize(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("n_types"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionizeSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts >= lag(ts) OVER w + INTERVAL $SessionGapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |g AS (
       |  SELECT user_id, ts, event_type,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sess_id
       |  FROM x)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL $SessionGapMinutes MINUTE AS session_end,
       |  count(*) AS n_events,
       |  count(DISTINCT event_type) AS n_types
       |FROM g GROUP BY user_id, sess_id
       |ORDER BY user_id, session_start""".stripMargin

  // --------------------------------------------------------------- q127
  /** Paths reported by q127 (top by session count, deterministic ties). */
  val PathTopK = 10

  /** q127: session path analysis — per (user, session) the ORDERED
    * event-type path ("view>click>purchase"), then the
    * top-[[PathTopK]] paths by session count: the product-analytics
    * read-out q50's sessionization exists to feed. The collect is
    * session-bounded (one session's events, never a user's history);
    * array_sort on (tsl, event_id, type) structs pins the within-
    * session order to the engine-wide total order before the
    * concatenation, so the path string is deterministic under any
    * partial-aggregation order; the path census is path-keyed and the
    * cut is a TakeOrdered. */
  /** The q127 stage shared by batch and stream: one path row per
    * (user, session). On a STREAMING frame (with a watermark upstream)
    * the same session_window aggregate runs incrementally — Spark
    * merges/extends session state per key and emits each session once
    * its window closes past the watermark
    * ([[graft.streaming.Streams.sessionPathsStream]]). */
  def sessionPathFrame(ev: DataFrame): DataFrame =
    ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("tsl"))
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tsl"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"), col("path"))

  def sessionPaths(s: SparkSession, d: String): DataFrame =
    sessionPathFrame(events(s, d))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(PathTopK)

  val sessionPathsSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts >= lag(ts) OVER w + INTERVAL $SessionGapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |g AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sess_id
       |  FROM x),
       |p AS (
       |  SELECT user_id, sess_id,
       |    string_agg(event_type, '>'
       |      ORDER BY epoch_us(ts), event_id) AS path
       |  FROM g GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY 1
       |ORDER BY n_sessions DESC, path LIMIT $PathTopK""".stripMargin

  // --------------------------------------------------------------- q139
  /** q139: session conversion by entry event — per session-opening
    * event type: session count, sessions containing a purchase, and
    * the conversion rate ("do view-first sessions convert better than
    * error-first ones?"). Pure reuse of the q127 session-path frame:
    * entry type = the path's first element, conversion = membership
    * test on the path's elements — both map-side string/array ops over
    * the session-sized frame, then a |types|-row census. */
  def sessionConversion(s: SparkSession, d: String): DataFrame =
    sessionPathFrame(events(s, d))
      .select(element_at(split(col("path"), ">"), 1).as("entry_type"),
        array_contains(split(col("path"), ">"), "purchase")
          .as("converted"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted").cast("long")).as("n_converted"))
      .withColumn("conversion_rate",
        floor(col("n_converted").cast("double") /
          col("n_sessions").cast("double") * 1e4 + 0.5) / 1e4)
      .orderBy(col("entry_type"))

  val sessionConversionSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts >= lag(ts) OVER w + INTERVAL $SessionGapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |g AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sess_id
       |  FROM x),
       |p AS (
       |  SELECT user_id, sess_id,
       |    string_agg(event_type, '>'
       |      ORDER BY epoch_us(ts), event_id) AS path
       |  FROM g GROUP BY 1, 2),
       |e AS (
       |  SELECT string_split(path, '>')[1] AS entry_type,
       |    list_contains(string_split(path, '>'), 'purchase')
       |      AS converted
       |  FROM p)
       |SELECT entry_type, count(*) AS n_sessions,
       |  CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_converted,
       |  floor(CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4
       |    AS conversion_rate
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q143
  /** q143 minimum co-occurring sessions for a reported pair. */
  val BasketMinSupport = 5L

  /** q143: session-basket association — the SON/A-Priori idea applied
    * to sessions: each session's DISTINCT event-type set is a basket,
    * and every unordered type pair gets support and lift
    * (c_ab·N / (c_a·c_b)). Session ids are (user, session_window
    * start); the pair join is keyed per session and bounded by the
    * type vocabulary (≤ |types| rows per session, so the self-join is
    * linear in sessions); marginals broadcast; exact integer moments
    * through identically-written IEEE mul/div. */
  def sessionBasketLift(s: SparkSession, d: String): DataFrame = {
    // sessions must be USER-level (grouping session_window by type
    // would sessionize each type separately and no two types would
    // ever share a session start) — so derive the per-session type
    // sets from the shared q127 path frame
    val st = sessionPathFrame(events(s, d))
      .select(col("user_id"), col("session_start").as("sess"),
        explode(array_distinct(split(col("path"), ">")))
          .as("event_type"))
      // kept: 4 readers; without it each reruns the per-session path
      // aggregate above the shared shuffle (42% slower at sf0.1)
      .localCheckpoint()
    val n = st.select(col("user_id"), col("sess")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val marg = st.groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"))
    val pairs = st.select(col("user_id"), col("sess"),
        col("event_type").as("a"))
      .join(st.select(col("user_id"), col("sess"),
        col("event_type").as("b")), Seq("user_id", "sess"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= BasketMinSupport)
    pairs
      .join(broadcast(marg.select(col("event_type").as("a"),
        col("c").as("c_a"))), Seq("a"))
      .join(broadcast(marg.select(col("event_type").as("b"),
        col("c").as("c_b"))), Seq("b"))
      .crossJoin(broadcast(n)) // 1-row scalar frame
      .select(col("a"), col("b"), col("c_ab"),
        (floor(col("c_ab").cast("double") *
          col("n_sessions").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double"))
          * 1e4 + 0.5) / 1e4).as("lift"))
      .orderBy(col("a"), col("b"))
  }

  val sessionBasketLiftSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts >= lag(ts) OVER w + INTERVAL $SessionGapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |g AS (
       |  SELECT user_id, event_type,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sess_id
       |  FROM x),
       |st AS (SELECT DISTINCT user_id, sess_id, event_type FROM g),
       |n AS (SELECT CAST(count(DISTINCT (user_id, sess_id)) AS BIGINT)
       |        AS n_sessions FROM st),
       |marg AS (SELECT event_type, count(*) AS c FROM st GROUP BY 1),
       |p AS (
       |  SELECT s1.event_type AS a, s2.event_type AS b,
       |    count(*) AS c_ab
       |  FROM st s1 JOIN st s2
       |    ON s2.user_id = s1.user_id AND s2.sess_id = s1.sess_id
       |    AND s1.event_type < s2.event_type
       |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)
       |SELECT p.a, p.b, p.c_ab,
       |  floor(CAST(p.c_ab AS DOUBLE) * CAST(n.n_sessions AS DOUBLE)
       |    / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE))
       |    * 1e4 + 0.5) / 1e4 AS lift
       |FROM p JOIN marg ma ON ma.event_type = p.a
       |       JOIN marg mb ON mb.event_type = p.b
       |       CROSS JOIN n
       |ORDER BY p.a, p.b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q143_session_baskets" -> (sessionBasketLift _),
    "q31_hourly_window" -> (hourlyWindow _),
    "q32_sliding_window" -> (slidingWindow _),
    "q50_sessionize" -> (sessionize _),
    "q127_session_paths" -> (sessionPaths _),
    "q139_session_conversion" -> (sessionConversion _))

  val oracle: Map[String, String] = Map(
    "q31_hourly_window" -> hourlyWindowSql,
    "q32_sliding_window" -> slidingWindowSql,
    "q50_sessionize" -> sessionizeSql,
    "q127_session_paths" -> sessionPathsSql,
    "q139_session_conversion" -> sessionConversionSql,
    "q143_session_baskets" -> sessionBasketLiftSql)
}
