package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Declared, Tables}

/** Event-time windowing over the `events` table (SURVEY.md §2.11).
  *
  * The reference has no streaming surface; these use Spark's
  * batch/streaming-unified `window()` / gaps-and-islands constructs, so
  * the exact same transformations run under Structured Streaming when a
  * streaming source is attached (see [[StreamingPipelines]]).
  */
object TimeWindows {

  private def cents(c: Column): Column = graft.DuckSql.centsCol(c)
  private def dCents(col: String): String = graft.DuckSql.cents(col)

  /** Tumbling 1-hour windows via the unified `window()` function. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour windows every 15 minutes. */
  def slidingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** 30-minute-gap sessions per user, gaps-and-islands style. Whole
    * seconds (floor) are used for gap math so the oracle's epoch
    * arithmetic matches exactly; sub-second order ties are broken by
    * event_id on both sides. */
  def sessionize(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("new_sess",
        when(lag(col("sec"), 1).over(byUser).isNull
          || col("sec") - lag(col("sec"), 1).over(byUser) > gapSec, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"))
      .select(col("user_id"), col("sess_id"), col("n_events"),
        col("start_sec"), col("duration_sec"))
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q21_tumbling_window",
      (s, dir) => tumblingHourly(Tables.load(s, dir, "events"))
        .orderBy(col("w_start"), col("event_type")),
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(${dCents("value")}) AS DOUBLE) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin),
      doc = "Tumbling 1h event-time windows (§2.11)"),

    Declared(
      "q22_sliding_window",
      (s, dir) => slidingHourly(Tables.load(s, dir, "events"))
        .orderBy(col("w_start"), col("event_type")),
      Some(s"""WITH offs AS (SELECT unnest(range(4)) AS o),
        |win AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', e.ts) - o * INTERVAL '15 minutes' AS ws,
        |         e.event_type, e.value
        |  FROM events e CROSS JOIN offs)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(${dCents("value")}) AS DOUBLE) / 100.0 AS sum_value
        |FROM win GROUP BY ws, event_type ORDER BY w_start, event_type""".stripMargin),
      doc = "Sliding 1h/15min event-time windows (§2.11)"),

    Declared(
      // Native session_window() (batch/streaming-unified). Oracle via
      // integer-microsecond gaps-and-islands: session start = first
      // event ts, new session when the µs gap exceeds 30 min — exactly
      // session_window's semantics (measured: an event at exactly
      // prev+gap is MERGED into the session, so the island break is
      // strict `>`).
      "q23b_session_native",
      (s, dir) => Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("sess_start"),
          col("user_id"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start")),
      Some("""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM flagged)
        |SELECT strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S.%f') AS sess_start,
        |  user_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin),
      doc = "Native session_window over event time (§2.11)"),

    Declared(
      "q23_session_window",
      (s, dir) => sessionize(Tables.load(s, dir, "events"))
        .withColumn("sess_id", col("sess_id").cast("long"))
        .orderBy(col("user_id"), col("sess_id")),
      Some("""WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, sec,
        |    CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |sess AS (
        |  SELECT user_id, sec,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flagged)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  min(sec) AS start_sec, max(sec) - min(sec) AS duration_sec
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin),
      doc = "30min-gap session windows, gaps-and-islands (§2.11)")
  )
}
