package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}

/** Event-stream analytics over the `events` table (ts, user_id, event_type,
  * value, props) — the batch shapes that carry over 1:1 to Structured
  * Streaming (`window()` aggregation is the same expression under
  * `readStream`; sessionization maps to flatMapGroupsWithState; see
  * graft.streaming).
  *
  * Scale notes: the window aggregation shuffles once on
  * (window, event_type) — bounded cardinality per hour, so partial (map-side)
  * aggregation does nearly all the work. Sessionization shuffles once on
  * user_id; within a partition the two window functions (lag + running sum)
  * share the same sort, so Catalyst plans ONE sort, two window ops.
  */
object Events {

  private val dec = DecimalType(38, 6)

  /** Decimal-routed double sum: order-insensitive addition so the result is
    * identical across Spark's partial-aggregation order and DuckDB's
    * sequential scan (same trick as q15; SURVEY §7.4). */
  private def sumExact(c: String) = sum(col(c).cast(dec)).cast("double")

  /** Tumbling 1-hour windowed aggregation per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sumExact("value").as("sum_value"),
        (sumExact("value") / count(lit(1)).cast("double")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("avg_value"))

  /** JSON access over the props column: both the lazy path
    * (get_json_object) and the schema-projected path (from_json). */
  def jsonProps(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_json"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k_struct"))

  /** Sessionization (gaps-and-islands): a new session starts when the gap
    * since the user's previous event exceeds `gapSeconds`. */
  def sessionize(events: DataFrame, gapSeconds: Long = 86400L): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val prev = lag(col("ts"), 1).over(byUser)
    val newSession = when(prev.isNull ||
      unix_timestamp(col("ts")) - unix_timestamp(prev) > gapSeconds, 1L)
      .otherwise(0L)
    events
      .withColumn("__new", newSession)
      .withColumn("session_id",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sumExact("value").as("sum_value"))
  }

  /** Multi-level aggregation in one pass: GROUP BY ROLLUP(event_type, day)
    * — per-(type, day), per-type, and grand-total rows from a single
    * shuffle (Expand feeds the grouping sets map-side). */
  def rollupDaily(events: DataFrame): DataFrame =
    events
      .withColumn("day", to_date(col("ts")))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sumExact("value").as("sum_value"),
        grouping_id().cast("long").as("gid"))

  // ---------------------------------------------------------------------------

  private val sumSql = "CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)"

  /** Trailing event-time features per user: how many events (and how much
    * value) landed in the preceding hour, per event — the RANGE-frame
    * (value-based) sliding window feature engineering runs for rate
    * limiting / fraud features, WITHOUT a self-join or interval explode.
    * The frame is over integer epoch-MICROSECONDS (both engines read the
    * nanos file floor-truncated to µs — Tables.loadEvents), closed at
    * [t-1h+1µs, t]; ties at equal timestamps are frame-peers, so the result
    * is deterministic without a tie-breaker. One shuffle on user_id, one
    * sort, sliding aggregation inside the Window operator. */
  def trailingFeatures(events: DataFrame,
      windowMicros: Long = 3600L * 1000000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-(windowMicros - 1), 0)
    events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_trailing_1h", count(lit(1)).over(w))
      .withColumn("sum_trailing_1h", sum(col("value").cast(dec)).over(w).cast("double"))
  }

  val queries: Seq[Q] = Seq(
    // GENERIC data-layout DELETE — the takedown extended from the four
    // serving-index families to the SOURCE-OF-TRUTH corpus, where a legal
    // request actually starts: the day-partitioned events root is written
    // under the manifest protocol (Layout.writeDataLayout: event_date
    // partitions for pruning, batch_id deliveries for the lifecycle),
    // base + one appended delivery, then DELETE FROM LAYOUT scrubs a
    // victim event_id set spanning BOTH deliveries via the same
    // affected-rewrite + one-swap + mandatory-vacuum recipe (under the
    // optimistic-concurrency loop). Victim class event_id % 9973 = 4 is
    // takedown-request-sized at every SF (1 row at sf0.001, ~100 at sf1)
    // and always non-empty, so the delete provably removes rows. Oracle =
    // the events table minus the victims.
    Q("q194_generic_takedown",
      (s, dir) => {
        val base = graft.sec.SecDerive.storedLayout(s, dir,
            "events_takedown") { base =>
          val ev = Tables.events(s, dir)
          Layout.writeEventsByDayCommitted(
            ev.filter(pmod(col("event_id"), lit(3)) =!= 0), base)
          Layout.appendDataLayout(
            ev.filter(pmod(col("event_id"), lit(3)) === 0)
              .withColumn("event_date", to_date(col("ts")))
              .repartition(col("event_date")),
            base, Seq("event_date"), batchId = 0L)
          val victims = ev
            .filter(pmod(col("event_id"), lit(9973)) === 4)
            .select("event_id").collect().map(_.getLong(0)).toSeq
          s.sql(s"DELETE FROM LAYOUT '$base' WHERE event_id IN " +
            s"(${victims.mkString(", ")})").collect()
        }
        Layout.readDataLayout(s, base)
          .select("event_id", "user_id", "event_type", "value",
            "event_date")
          .orderBy("event_id")
      },
      Some("""
SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS event_date
FROM events WHERE event_id % 9973 <> 4
ORDER BY event_id""")),

    Q("q61_range_frame",
      (s, dir) => trailingFeatures(Tables.events(s, dir)).orderBy("event_id"),
      Some("""
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
  CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
  CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
ORDER BY event_id""")),

    Q("q38_rollup",
      (s, dir) => rollupDaily(Tables.events(s, dir))
        .orderBy(col("gid"), col("event_type").asc_nulls_last,
          col("day").asc_nulls_last),
      Some(s"""
SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
  count(*) AS n_events, $sumSql AS sum_value,
  CAST(GROUPING(event_type) * 2 + GROUPING(CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS gid
FROM events
GROUP BY ROLLUP(event_type, CAST(date_trunc('day', ts) AS DATE))
ORDER BY gid, event_type ASC NULLS LAST, day ASC NULLS LAST""")),

    Q("q29_events_hourly",
      (s, dir) => hourlyAgg(Tables.events(s, dir))
        .orderBy("window_start", "event_type"),
      Some(s"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
  count(*) AS n_events,
  $sumSql AS sum_value,
  $sumSql / CAST(count(*) AS DOUBLE) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    Q("q31_json_props",
      (s, dir) => jsonProps(Tables.events(s, dir)).orderBy("event_id"),
      Some("""
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_json,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
FROM events ORDER BY event_id""")),

    Q("q33_sessionize",
      (s, dir) => sessionize(Tables.events(s, dir))
        .orderBy("user_id", "session_id"),
      Some(s"""
WITH b AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 86400
                 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
s AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM b)
SELECT user_id, session_id, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end,
  $sumSql AS sum_value
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""")))
}
