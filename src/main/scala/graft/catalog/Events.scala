package graft.catalog

import graft.Ckpt.StableCheckpoint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Event-stream queries: JSON access, pivot, time windows, sessionization —
  * plus the bb_* family, which re-expresses the reference pipeline's exact
  * operator semantics (`bigbugdata.py` A1 totals → A2 pivot → F2 rpm →
  * W2 z-score → J2/F3 rrpm → W1/J1 tophits) over the `events` table so the
  * DuckDB oracle can check each stage.
  */
object Events {
  import Tables.t

  private def d2(c: Column): Column = c.cast(DecimalType(12, 2))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Long-format per-(user,event_type) counts + per-user totals — the
    * reference's combined-taxa accumulator (`bigbugdata.py:286–302`) with
    * user_id playing "sample" and event_type playing "organism". */
  private def longCounts(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("user_total", sum(col("n")).over(w))
  }

  private val longCountsSql =
    """SELECT user_id, event_type, COUNT(*) AS n,
       CAST(SUM(COUNT(*)) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
       FROM events GROUP BY user_id, event_type"""

  /** RPM normalization — reads / (total/1e6), `bigbugdata.py:122`. */
  private def rpmDf(s: SparkSession, dir: String): DataFrame =
    longCounts(s, dir).withColumn("rpm",
      col("n").cast("double") / (col("user_total").cast("double") / lit(1000000.0)))

  private val rpmSql =
    s"""SELECT user_id, event_type, n, user_total,
        CAST(n AS DOUBLE) / (CAST(user_total AS DOUBLE) / 1000000.0) AS rpm
        FROM ($longCountsSql)"""

  /** rRPM — floor-truncated ratio to the negative-control row
    * (user_id 0 as the "control sample"), `bigbugdata.py:147–159`:
    * floor both operands, clamp control to >= 1, default 1 when absent. */
  private def rrpmDf(s: SparkSession, dir: String): DataFrame = {
    val rpm = rpmDf(s, dir)
    val nc = rpm.filter(col("user_id") === 0)
      .select(col("event_type").as("nc_event_type"), col("rpm").as("nc_rpm"))
    rpm.join(broadcast(nc), col("event_type") === col("nc_event_type"), "left")
      .withColumn("rrpm",
        floor(col("rpm")).cast("double") /
          greatest(floor(coalesce(col("nc_rpm"), lit(1.0))).cast("double"), lit(1.0)))
      .select("user_id", "event_type", "n", "rpm", "rrpm")
  }

  private val rrpmSql =
    s"""SELECT r.user_id, r.event_type, r.n, r.rpm,
        CAST(FLOOR(r.rpm) AS DOUBLE) /
          GREATEST(CAST(FLOOR(COALESCE(nc.nc_rpm, 1.0)) AS DOUBLE), 1.0) AS rrpm
        FROM ($rpmSql) r
        LEFT JOIN (SELECT event_type AS nc_event_type, rpm AS nc_rpm
                   FROM ($rpmSql) WHERE user_id = 0) nc
          ON r.event_type = nc.nc_event_type"""

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q16_json",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id"""),
      "JSON field extraction from string column (driver-corpus F surface)"),

    QueryDef(
      "q17_pivot",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .pivot("event_type", eventTypes)
          .count()
          .na.fill(0, eventTypes)
          .orderBy("day"),
      Some("""SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        FROM events GROUP BY 1 ORDER BY day"""),
      "pivot with explicit values (A2 wide form; avoids distinct-collect job)"),

    QueryDef(
      "q19_time_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"),
            sum(d2(col("value"))).cast("double").as("total_value"))
          .select(col("window.start").as("ws"), col("n_events"), col("total_value"))
          .orderBy("ws"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws,
        COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
        FROM events GROUP BY 1 ORDER BY ws"""),
      "tumbling time window in batch (§2.10 streaming surface, batch-checked)"),

    QueryDef(
      "ev_session",
      (s, dir) => {
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") >= 1800000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(min(col("ts")).as("session_start"),
            count(lit(1)).as("n_events"),
            sum(d2(col("value"))).cast("double").as("session_value"))
          .orderBy("user_id", "sess_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
            LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
              (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
          FROM events),
        g AS (
          SELECT *, CASE WHEN prev_us IS NULL
              OR epoch_us(ts) - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM e),
        sess AS (
          SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
          FROM g)
        SELECT user_id, sess_id, MIN(ts) AS session_start,
          COUNT(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS session_value
        FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""),
      "sessionization: 30-min-gap islands (batch twin of session_window)"),

    QueryDef(
      "bb_totals",
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("event_type").isin("signup", "purchase"))
          .groupBy(col("user_id"))
          .agg(sum(d2(col("value"))).cast("double").as("total_value"),
            count(lit(1)).as("n"))
          .orderBy("user_id"),
      Some("""SELECT user_id,
        CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value,
        COUNT(*) AS n
        FROM events WHERE event_type IN ('signup', 'purchase')
        GROUP BY user_id ORDER BY user_id"""),
      "A1: per-sample totals from a membership-filtered subset (taxID 0/1 analog)"),

    QueryDef(
      "bb_pivot_long",
      (s, dir) => longCounts(s, dir).orderBy("user_id", "event_type"),
      Some(s"SELECT * FROM ($longCountsSql) ORDER BY user_id, event_type"),
      "A2/A3: long-format pivot accumulation with per-sample grand totals"),

    QueryDef(
      "bb_rpm",
      (s, dir) => rpmDf(s, dir).orderBy("user_id", "event_type"),
      Some(s"SELECT * FROM ($rpmSql) ORDER BY user_id, event_type"),
      "F2: reads-per-million normalization (bigbugdata.py:122)"),

    QueryDef(
      "bb_zscore",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
        longCounts(s, dir)
          .withColumn("grp_cnt", count(lit(1)).over(w))
          .withColumn("grp_sum", sum(col("n")).over(w))
          .withColumn("grp_sumsq", sum(col("n") * col("n")).over(w))
          .withColumn("grp_avg", col("grp_sum").cast("double") / col("grp_cnt"))
          .withColumn("grp_var",
            col("grp_sumsq").cast("double") / col("grp_cnt")
              - col("grp_avg") * col("grp_avg"))
          .withColumn("grp_sd", sqrt(col("grp_var")))
          .withColumn("z_score",
            when(col("grp_sd") === 0.0, lit(null).cast("double"))
              .otherwise((col("n").cast("double") - col("grp_avg")) / col("grp_sd")))
          .select("user_id", "event_type", "n", "z_score")
          .orderBy("user_id", "event_type")
      },
      Some(s"""WITH lc AS ($longCountsSql),
        stats AS (
          SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS grp_cnt,
            CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS grp_sum,
            CAST(SUM(n * n) OVER (PARTITION BY event_type) AS BIGINT) AS grp_sumsq
          FROM lc),
        d AS (
          SELECT *, CAST(grp_sum AS DOUBLE) / grp_cnt AS grp_avg,
            CAST(grp_sumsq AS DOUBLE) / grp_cnt
              - (CAST(grp_sum AS DOUBLE) / grp_cnt) * (CAST(grp_sum AS DOUBLE) / grp_cnt) AS grp_var
          FROM stats)
        SELECT user_id, event_type, n,
          CASE WHEN sqrt(grp_var) = 0.0 THEN NULL
            ELSE (CAST(n AS DOUBLE) - grp_avg) / sqrt(grp_var) END AS z_score
        FROM d ORDER BY user_id, event_type"""),
      "W2: population z-score across samples, NULL at zero stddev " +
        "(bigbugdata.py:322–331); exact integer moments -> IEEE-deterministic"),

    QueryDef(
      "bb_rrpm",
      (s, dir) => rrpmDf(s, dir).orderBy("user_id", "event_type"),
      Some(s"SELECT * FROM ($rrpmSql) ORDER BY user_id, event_type"),
      "J2+F3: negative-control ratio with int-truncation, 0->1 clamp, " +
        "default-1 for ungrouped samples (bigbugdata.py:147–159)"),

    QueryDef(
      "bb_tophits",
      (s, dir) => {
        val rrpm = rrpmDf(s, dir)
        val wTop = Window.partitionBy(col("user_id"))
          .orderBy(col("rrpm").desc, col("event_type").asc)
        // rank BEFORE the stats join: dropped rows consume rank ordinals
        // (gap semantics, bigbugdata.py:183–188)
        val topk = rrpm.withColumn("rk", row_number().over(wTop).cast("long"))
          .filter(col("rk") <= 3)
        val stats = t(s, dir, "events")
          .filter(col("value") > 50)
          .groupBy(col("user_id").as("st_user"), col("event_type").as("st_type"))
          .agg(sum(d2(col("value"))).cast("double").as("stat_value"))
        topk.join(stats,
            col("user_id") === col("st_user") && col("event_type") === col("st_type"))
          .select("user_id", "event_type", "rk", "rrpm", "stat_value")
          .orderBy("user_id", "rk")
      },
      Some(s"""WITH rr AS ($rrpmSql),
        topk AS (
          SELECT user_id, event_type, rrpm,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY rrpm DESC, event_type ASC) AS rk
          FROM rr),
        stats AS (
          SELECT user_id AS st_user, event_type AS st_type,
            CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS stat_value
          FROM events WHERE value > 50 GROUP BY user_id, event_type)
        SELECT user_id, event_type, rk, rrpm, stat_value
        FROM topk JOIN stats ON user_id = st_user AND event_type = st_type
        WHERE rk <= 3 ORDER BY user_id, rk"""),
      "W1+J1: top-K by rRPM with stable tiebreak, rank-before-join gap " +
        "semantics (bigbugdata.py:176–205)"),

    QueryDef(
      "ev_stream_join",
      (s, dir) =>
        graft.streaming.EventStreams.attributionJoin(t(s, dir, "events"))
          .orderBy("p_id", "c_id"),
      Some("""SELECT p.event_id AS p_id, p.user_id AS user_id,
          CAST(p.ts AS TIMESTAMP) AS p_ts,
          c.event_id AS c_id, CAST(c.ts AS TIMESTAMP) AS c_ts
        FROM events p JOIN events c ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          AND CAST(c.ts AS TIMESTAMP)
            >= CAST(p.ts AS TIMESTAMP) - INTERVAL 2 HOUR
        ORDER BY p_id, c_id"""),
      "click→purchase attribution interval join: the batch twin of the " +
        "watermarked stream-stream join (EventStreams.attributionJoin — " +
        "SAME code both modes; StreamingSpec proves incremental parity)"),

    QueryDef(
      "ev_left_join",
      (s, dir) =>
        graft.streaming.EventStreams.attributionLeftOuter(t(s, dir, "events"))
          .orderBy("p_id", "c_id"),
      Some("""SELECT p.event_id AS p_id, p.user_id AS user_id,
          CAST(p.ts AS TIMESTAMP) AS p_ts,
          c.event_id AS c_id, CAST(c.ts AS TIMESTAMP) AS c_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          AND CAST(c.ts AS TIMESTAMP)
            >= CAST(p.ts AS TIMESTAMP) - INTERVAL 2 HOUR
        ORDER BY p_id, c_id"""),
      "LEFT-OUTER attribution join: every purchase emits, null-padded " +
        "when no click qualifies — batch twin of the watermarked " +
        "stream-stream left join whose null rows may only emit once " +
        "the watermark proves no match can arrive (StreamingSpec)"),

    QueryDef(
      "q76_funnel",
      (s, dir) => {
        // 3-step ordered funnel (view → click → purchase): each step's
        // timestamp is the user's EARLIEST qualifying event at-or-after
        // the previous step — the product-analytics primitive behind
        // conversion reporting. Scale shape: each stage is one filtered
        // aggregate (per-user, bounded output) broadcast back against the
        // next stage's filtered events — the corpus-sized table is only
        // ever scanned and equi-joined on user_id, never self-joined
        // row×row, and per-user state is a single timestamp. depth counts
        // the steps reached (every funnel user has a view by
        // construction).
        val ev = t(s, dir, "events")
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
        val s2 = ev.filter(col("event_type") === "click")
          .join(broadcast(s1), "user_id")
          .filter(col("ts") >= col("view_ts"))
          .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
        val s3 = ev.filter(col("event_type") === "purchase")
          .join(broadcast(s2), "user_id")
          .filter(col("ts") >= col("click_ts"))
          .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
        s1.join(s2, Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .withColumn("depth",
            lit(1L) + col("click_ts").isNotNull.cast("long")
              + col("purchase_ts").isNotNull.cast("long"))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (
          SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS view_ts
          FROM events WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= s1.view_ts
          GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s2.click_ts
          GROUP BY e.user_id)
        SELECT s1.user_id, s1.view_ts, s2.click_ts, s3.purchase_ts,
          1 + (s2.user_id IS NOT NULL)::BIGINT
            + (s3.user_id IS NOT NULL)::BIGINT AS depth
        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
        ORDER BY s1.user_id"""),
      "3-step ordered conversion funnel: cascaded earliest-qualifying-" +
        "event aggregates, per-user bounded state, no event×event " +
        "self-join — the corpus is only scanned and equi-joined"),

    QueryDef(
      "q77_retention",
      (s, dir) => {
        // Cohort retention: users grouped by FIRST-ACTIVE day, counted on
        // each later day they return — the (cohort_day, day_offset) grid
        // every growth dashboard draws. Scale shape: activity collapses
        // to distinct (user, day) FIRST (one shuffle, bounded by
        // users×days), cohorts are a per-user min over that, and the
        // grid is a groupBy over the compact activity table — the raw
        // event table is touched exactly once.
        val ev = t(s, dir, "events")
        val active = ev.select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val cohort = active.groupBy("user_id")
          .agg(min(col("day")).as("cohort_day"))
        active.join(cohort, "user_id")
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).as("day_offset"))
          .agg(count_distinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("""WITH active AS (
          SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
          FROM events),
        cohort AS (
          SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id)
        SELECT c.cohort_day,
          CAST(a.day - c.cohort_day AS INT) AS day_offset,
          COUNT(DISTINCT a.user_id) AS n_users
        FROM active a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "cohort retention grid (first-active-day cohorts x day offset): " +
        "events collapse to distinct user-days before any join, so the " +
        "grid aggregates a users-x-days table, not the raw corpus"),

    QueryDef(
      "ev_hopping",
      (s, dir) =>
        graft.streaming.EventStreams.hoppingWindow(t(s, dir, "events"))
          .orderBy("ws"),
      Some("""SELECT ws, COUNT(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
            AS total_value
        FROM (SELECT UNNEST([
            time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
            time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
              - INTERVAL 30 MINUTE]) AS ws, value
          FROM events)
        GROUP BY ws ORDER BY ws"""),
      "hopping (sliding) 1h windows every 30min: each event lands in two " +
        "overlapping windows — batch twin of the watermarked streaming " +
        "aggregation (SAME code both modes, StreamingSpec parity)"),

    QueryDef(
      "q79_ohlc",
      (s, dir) => {
        // OHLC time bars (open/high/low/close/volume per 15-min bucket
        // per event_type) — the canonical first/last-in-group downsample
        // for time-series. Open/close are picked by row_number over the
        // total order (ts, event_id) — deterministic under ties — and
        // both picks ride ONE window pass each way inside the same
        // per-(type, bucket) partition the aggregate shuffles on, so the
        // whole query is one shuffle + two windows + one aggregate.
        // Volume sums in DECIMAL (exact, order-independent).
        val wAsc = Window.partitionBy(col("event_type"), col("ws"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wDesc = Window.partitionBy(col("event_type"), col("ws"))
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("ws", window(col("ts"), "15 minutes")("start"))
          .withColumn("rn_a", row_number().over(wAsc))
          .withColumn("rn_d", row_number().over(wDesc))
          .groupBy(col("event_type"), col("ws"))
          .agg(
            max(when(col("rn_a") === 1, col("value"))).as("open_v"),
            max(col("value")).as("high_v"),
            min(col("value")).as("low_v"),
            max(when(col("rn_d") === 1, col("value"))).as("close_v"),
            count(lit(1)).as("n_events"),
            sum(d2(col("value"))).cast("double").as("volume"))
          .orderBy("event_type", "ws")
      },
      Some("""WITH e AS (SELECT event_type, event_id, value,
            CAST(ts AS TIMESTAMP) AS tts,
            time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS ws
          FROM events),
        r AS (SELECT *,
            ROW_NUMBER() OVER (PARTITION BY event_type, ws
              ORDER BY tts ASC, event_id ASC) AS rn_a,
            ROW_NUMBER() OVER (PARTITION BY event_type, ws
              ORDER BY tts DESC, event_id DESC) AS rn_d
          FROM e)
        SELECT event_type, ws,
          MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
          MAX(value) AS high_v,
          MIN(value) AS low_v,
          MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
          COUNT(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
            AS volume
        FROM r GROUP BY 1, 2 ORDER BY event_type, ws"""),
      "OHLC bars: first/last-in-group by deterministic (ts, event_id) " +
        "rank, min/max/decimal-volume per 15-min bucket — the time-series " +
        "downsample; one shuffle, windows share the aggregate's keys"),

    QueryDef(
      "q81_concurrency",
      (s, dir) => {
        // Interval-overlap concurrency: each event holds a resource for
        // 10 minutes — how many are held at every instant? The classic
        // sweep: explode intervals to +1/-1 boundary events, then a
        // GLOBAL running sum. `SUM() OVER (ORDER BY t)` plans as
        // Exchange SinglePartition — one task sums the world — so this
        // generalizes q54's scalable-rownum machinery from counting to
        // summing: range-partition by the sweep order, partial-sum
        // within each partition, add per-partition PREFIX offsets
        // (driver sees one sum per partition — partition metadata, not
        // rows). Tie order (t, delta DESC, event_id) starts-before-ends
        // at the same instant, so touching intervals overlap —
        // identical on both engines, fully deterministic.
        val ev = t(s, dir, "events")
          .select(col("event_id"), unix_micros(col("ts")).as("t0"))
        val bounds = ev
          .select(col("event_id"), col("t0").as("t"), lit(1L).as("delta"))
          .unionAll(ev.select(col("event_id"),
            (col("t0") + 600000000L).as("t"), lit(-1L).as("delta")))
        val parted = bounds
          .repartitionByRange(col("t"), col("delta").desc, col("event_id"))
          .withColumn("pid", spark_partition_id())
          .stableCheckpoint() // pin pid assignment across the two jobs
        val sums = parted.groupBy("pid").agg(sum(col("delta")).as("ps"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        var acc = 0L
        val offsets = sums.map { case (pid, v) =>
          val o = (pid, acc); acc += v; o
        }.toSeq
        import s.implicits._
        val offDf = offsets.toDF("pid", "off")
        val w = Window.partitionBy(col("pid"))
          .orderBy(col("t"), col("delta").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        parted.join(broadcast(offDf), "pid")
          .withColumn("concurrent", col("off") + sum(col("delta")).over(w))
          .select(timestamp_micros(col("t")).as("bt"), col("event_id"),
            col("delta"), col("concurrent"))
          .orderBy(col("bt"), col("delta").desc, col("event_id"))
      },
      Some("""WITH b AS (
          SELECT event_id, CAST(ts AS TIMESTAMP) AS bt,
            CAST(1 AS BIGINT) AS delta FROM events
          UNION ALL
          SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE,
            CAST(-1 AS BIGINT) FROM events)
        SELECT bt, event_id, delta,
          CAST(SUM(delta) OVER (ORDER BY bt, delta DESC, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS concurrent
        FROM b ORDER BY bt, delta DESC, event_id"""),
      "interval-overlap concurrency sweep: +1/-1 boundaries, global " +
        "running sum WITHOUT SinglePartition — range partition + " +
        "within-partition partial sums + broadcast prefix offsets " +
        "(q54's scalable pattern generalized from counting to summing)"),

    QueryDef(
      "ev_session_window",
      (s, dir) =>
        // Spark's BUILT-IN session_window against ev_session's manual
        // lag/island algorithm: the two must agree exactly — merge when
        // the next event starts strictly inside [last, last+30min), new
        // session at exactly +30min (the built-in's half-open interval
        // overlap == the manual >= gap test). The oracle is the SAME
        // island CTE as ev_session, so a green row here cross-validates
        // the built-in operator against the independent DuckDB
        // recurrence. The same expression drives streaming
        // sessionization with a watermark (Spark merges sessions in the
        // state store) — this is the batch face of that surface; the
        // custom state-store variants (timeoutSessions) remain for
        // emit-on-timeout semantics the built-in cannot express.
        t(s, dir, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(min(col("ts")).as("session_start"),
            count(lit(1)).as("n_events"),
            sum(d2(col("value"))).cast("double").as("session_value"))
          .select(col("user_id"), col("session_start"), col("n_events"),
            col("session_value"))
          .orderBy("user_id", "session_start"),
      Some("""WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
            LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
              (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
          FROM events),
        g AS (
          SELECT *, CASE WHEN prev_us IS NULL
              OR epoch_us(ts) - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM e),
        sess AS (
          SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
          FROM g)
        SELECT user_id, MIN(ts) AS session_start,
          COUNT(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
            AS session_value
        FROM sess GROUP BY user_id, sess_id
        ORDER BY user_id, session_start"""),
      "built-in session_window vs the manual island algorithm: exact " +
        "agreement including the boundary (new session at exactly " +
        "+30min) — cross-validates Spark's native session operator " +
        "against the independent DuckDB recurrence"),

    QueryDef(
      "ev_trending",
      (s, dir) => {
        // Trending keys: top-3 props.k per 1-hour window by count with
        // the deterministic (cnt desc, k asc) tie-break. The windowed
        // count is ONE aggregation (streaming-legal in append mode —
        // EventStreams.trendingCounts is the identical code with a
        // watermark; StreamingSpec pins parity), and the per-window
        // top-3 runs through the native O(k)-memory TopKPerKey operator
        // — a hot window never buffers its full key distribution. The
        // dashboard staple: what's hot right now, incrementally.
        val counts = graft.streaming.EventStreams
          .trendingCounts(t(s, dir, "events"))
        graft.plans.TopKPerKey.of(counts, Seq("ws"),
          Seq("cnt" -> false, "k" -> true), 3)
          .select("ws", "k", "cnt")
          .orderBy(col("ws"), col("cnt").desc, col("k"))
      },
      Some("""WITH c AS (
          SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
            COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ws
            ORDER BY cnt DESC, k ASC) AS rn FROM c)
        SELECT ws, k, cnt FROM r WHERE rn <= 3
        ORDER BY ws, cnt DESC, k"""),
      "trending top-3 keys per hour: one streaming-legal windowed count " +
        "+ the native O(k) TopKPerKey per window (deterministic " +
        "tie-break); same code runs watermarked in append mode — " +
        "StreamingSpec pins streaming == batch"),

    QueryDef(
      "q84_ab_test",
      (s, dir) => {
        // Experimentation primitive: a two-proportion z-test per metric
        // (variant = user_id parity, conversion = purchase events).
        // The z statistic is pure IEEE double math — counts are exact
        // integers, and +,-,*,/,sqrt are all correctly rounded, so the
        // IDENTICAL expression tree yields the bit-identical statistic
        // in both engines (the e1-cosine discipline applied to a
        // statistic). One pass: conditional aggregation per variant,
        // 1-row frames joined — no per-variant rescan.
        val ev = t(s, dir, "events")
          .withColumn("variant", (col("user_id") % 2).cast("long"))
          .withColumn("conv", when(col("event_type") === "purchase", 1L)
            .otherwise(0L))
        val agg = ev.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        val a = agg.filter(col("variant") === 0)
          .select(col("n").as("n_a"), col("c").as("c_a"))
        val b = agg.filter(col("variant") === 1)
          .select(col("n").as("n_b"), col("c").as("c_b"))
        a.crossJoin(b) // two 1-row frames
          .withColumn("p_a", col("c_a").cast("double") / col("n_a"))
          .withColumn("p_b", col("c_b").cast("double") / col("n_b"))
          .withColumn("p_pool",
            (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b")))
          .withColumn("z",
            (col("p_a") - col("p_b")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
          .select("n_a", "c_a", "n_b", "c_b", "p_a", "p_b", "z")
      },
      Some("""WITH v AS (
          SELECT user_id % 2 AS variant,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
          FROM events),
        agg AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS c
          FROM v GROUP BY 1),
        a AS (SELECT n AS n_a, c AS c_a FROM agg WHERE variant = 0),
        b AS (SELECT n AS n_b, c AS c_b FROM agg WHERE variant = 1)
        SELECT n_a, CAST(c_a AS BIGINT) AS c_a,
          n_b, CAST(c_b AS BIGINT) AS c_b,
          CAST(c_a AS DOUBLE) / n_a AS p_a,
          CAST(c_b AS DOUBLE) / n_b AS p_b,
          (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
            / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
              * (CAST(1.0 AS DOUBLE) - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
              * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)) AS z
        FROM a, b"""),
      "two-proportion A/B z-test in one pass: exact integer counts, " +
        "IEEE-identical statistic (+,-,*,/,sqrt all correctly rounded) " +
        "— bit-exact vs the oracle, no per-variant rescan"),

    QueryDef(
      "q90_ewma",
      (s, dir) => {
        // Exponentially-weighted moving average per user — the classic
        // feature-engineering smoother, made EXACT: weights are dyadic
        // (2^-(k+1) for lag k, truncated at 8 taps), values become
        // integer cents, so the weighted numerator Σ cents·2^(7-k) and
        // the present-weight denominator are both exact integers and
        // the smoothed value is ONE IEEE division of exact inputs —
        // bit-identical in any engine, at any parallelism. Sequence
        // starts normalize by the weights actually present (lag k
        // null → tap skipped), so row 1 smooths to its own value.
        // Position-dependent weights can't ride a frame SUM; the 8
        // explicit lags all compute in ONE window pass (one physical
        // Window node). Scale shape: one shuffle on user_id, then
        // per-partition sorted evaluation; 100 TB of events smooth
        // with no join and no driver state.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val cents = (d2(col("value")) * 100).cast("long")
        val base = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), cents.as("c"))
        val taps = (0 to 7).map { k =>
          val wt = 1L << (7 - k)
          val l = if (k == 0) col("c") else lag(col("c"), k).over(w)
          (coalesce(l * wt, lit(0L)), when(l.isNotNull, wt).otherwise(0L))
        }
        base
          .withColumn("num", taps.map(_._1).reduce(_ + _))
          .withColumn("den", taps.map(_._2).reduce(_ + _))
          .select(col("user_id"), col("event_id"),
            (col("num").cast("double") / (col("den") * 100)).as("ewma"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
            CAST(ts AS TIMESTAMP) AS tts,
            CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
          FROM events),
        l AS (SELECT user_id, event_id,
            """ + (0 to 7).map { k =>
              s"lag(c, $k) OVER (PARTITION BY user_id ORDER BY tts, event_id) AS l$k"
            }.mkString(",\n            ") + """
          FROM e)
        SELECT user_id, event_id,
          CAST(""" + (0 to 7).map(k => s"COALESCE(l$k * ${1L << (7 - k)}, 0)")
            .mkString(" + ") + """ AS DOUBLE)
          / ((""" + (0 to 7).map(k =>
              s"CASE WHEN l$k IS NOT NULL THEN ${1L << (7 - k)} ELSE 0 END")
            .mkString(" + ") + """) * 100) AS ewma
        FROM l ORDER BY user_id, event_id"""),
      "dyadic-weight EWMA (8 taps, 2^-(k+1)): integer-cents numerator/" +
        "denominator, one exact division — bit-exact smoothing with one " +
        "user_id shuffle and a single window pass"),

    QueryDef(
      "q91_mad_outliers",
      (s, dir) => {
        // Robust per-group outlier detection — median/MAD, the screen
        // that survives the exact data it's hunting (mean/stddev get
        // dragged by the outliers themselves; this corpus's exponential
        // value tail flags ~11% per type). EXACT by the q78 discipline:
        // values become integer cents, the median is a DISCRETE rank
        // selection (lower median, rank (n+1) div 2, (c, event_id)
        // total order), the MAD is the same selection over integer
        // |c − med|, and the outlier verdict 'dev > 3·MAD' is an
        // integer compare — no float can disagree about any row. Scale
        // shape (round 16): ONE corpus pass builds a value histogram;
        // medians are RankSelect rank picks over it and every later
        // step is histogram-sized — no corpus window, no re-scan
        // (q75's mergeable GK sketch stays the approximate alternative
        // when even the value domain is too wide).
        // round 16 rewrite: everything after ONE corpus pass runs on
        // VALUE HISTOGRAMS. The old shape windowed the full corpus
        // per event_type THREE times (row_number median, row_number
        // MAD, final scan) — each window funnels a whole type through
        // one task's sort, the exact q78/q88 hazard this catalog's
        // RankSelect exists to avoid, and the corpus was re-scanned
        // per pass (8 parquet scans in the before-plan,
        // plans/r16/q91_mad_outliers_before.txt). Now:
        //   - one groupBy(event_type, c) histogram (map-side combine),
        //     checkpointed;
        //   - the lower median is the value at rank (n+1) div 2 —
        //     identical under duplicates to the old (c, event_id)
        //     tie-broken row_number pick, since the k-th smallest
        //     VALUE does not depend on tie order — selected by
        //     RankSelect over the histogram;
        //   - |c − med| collapses the histogram to a dev histogram
        //     (counts SUM across colliding values — same multiset of
        //     devs), MAD = the same rank selection over it;
        //   - n / n_outliers are exact histogram-weighted sums:
        //     sum(_c) and sum(_c where dev > 3·MAD).
        // Bit-exact vs the unchanged row-level oracle (re-gated sf0.01
        // + adversarial skew); all-integer math throughout.
        val cents = (d2(col("value")) * 100).cast("long")
        val e = t(s, dir, "events")
          .select(col("event_type"), cents.as("c"))
        val srcBytes = graft.operators.RankSelect.inputBytes(e)
        val hist = graft.operators.RankSelect.histogram(e, "event_type", "c")
          .stableCheckpoint()
        val medTargets = hist.groupBy(col("event_type"))
          .agg(sum(col("_c")).as("n"))
          .select(col("event_type"), col("n"),
            expr("(n + 1) div 2").as("k")) // integer div —
            // Column./ would promote to double and miss even-n groups
        val med = graft.operators.RankSelect
          .valueAtRanksFromHist(hist, srcBytes, "event_type", "c",
            medTargets.select(col("event_type"), col("k")))
          .select(col("event_type"), col("c").as("c_med"))
        // c_med is a function of event_type, so it rides the dev
        // histogram's grouping key and the final aggregate reads it from
        // the checkpoint instead of re-running the median pick
        val devHist = hist.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("c") - col("c_med")))
          .groupBy(col("event_type"), col("c_med"), col("dev"))
          .agg(sum(col("_c")).as("_c"))
          .stableCheckpoint() // read twice: MAD selection + final agg
        val mad = graft.operators.RankSelect
          .valueAtRanksFromHist(devHist, srcBytes, "event_type", "dev",
            medTargets.select(col("event_type"), col("k")))
          .select(col("event_type"), col("dev").as("dev_med"))
        devHist
          .join(broadcast(mad), "event_type")
          .groupBy(col("event_type"))
          .agg(sum(col("_c")).as("n"),
            max(col("c_med")).as("med_c"),
            max(col("dev_med")).as("mad_c"),
            sum(when(col("dev") > lit(3) * col("dev_med"), col("_c"))
              .otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, event_id,
            CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
          FROM events),
        m AS (SELECT event_type, c AS med_c FROM (
          SELECT event_type, c,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY c, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM e) WHERE rn = (n + 1) // 2),
        d AS (SELECT e.event_type, e.event_id,
            abs(e.c - m.med_c) AS dev, m.med_c
          FROM e JOIN m USING (event_type)),
        md AS (SELECT event_type, dev AS mad_c FROM (
          SELECT event_type, dev,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY dev, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM d) WHERE rn = (n + 1) // 2)
        SELECT d.event_type, COUNT(*) AS n,
          MAX(d.med_c) AS med_c, MAX(md.mad_c) AS mad_c,
          CAST(SUM(CASE WHEN d.dev > 3 * md.mad_c THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
        FROM d JOIN md USING (event_type)
        GROUP BY 1 ORDER BY 1"""),
      "median/MAD robust outlier screen per group: discrete rank-" +
        "selection medians over integer cents, integer 3-MAD verdict — " +
        "exact at any parallelism; one corpus pass builds a value " +
        "histogram, RankSelect picks both medians off it, outlier " +
        "counts are histogram-weighted sums"),

    QueryDef(
      "q93_ks_drift",
      (s, dir) => {
        // Two-sample Kolmogorov–Smirnov distribution drift — the
        // monitor that catches train/serve skew BEFORE a model does:
        // D = max_v |F1(v) − F2(v)| between the click and purchase
        // value distributions. EXACT: both CDFs compare as the
        // cross-multiplied rational |cum1·n2 − cum2·n1| over the
        // common denominator n1·n2, so the max is over INTEGERS and
        // the reported statistic is one exact division (these are the
        // realistic near-identical distributions — the regime where a
        // float CDF compare can flip the argmax). Scale shape: the
        // corpus collapses to per-distinct-value counts first (one
        // aggregate with map-side combine); the global running CDFs
        // over that bounded support use the q81 machinery — range
        // partition + per-partition partials + broadcast prefix
        // offsets, never Exchange SinglePartition; n1/n2 fall out of
        // the same partition-sums collect (metadata, not rows).
        val cents = (d2(col("value")) * 100).cast("long")
        val e = t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(when(col("event_type") === "click", 1L).otherwise(0L)
            .as("is1"), cents.as("c"))
        val byVal = e.groupBy(col("c"))
          .agg(sum(col("is1")).as("c1"),
            sum(lit(1L) - col("is1")).as("c2"))
        val parted = byVal.repartitionByRange(col("c"))
          .withColumn("pid", spark_partition_id())
          .stableCheckpoint() // pin pid assignment across the two jobs
        val sums = parted.groupBy("pid")
          .agg(sum(col("c1")).as("s1"), sum(col("c2")).as("s2"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        var a1 = 0L; var a2 = 0L
        val offsets = sums.map { case (pid, v1, v2) =>
          val o = (pid, a1, a2); a1 += v1; a2 += v2; o
        }.toSeq
        val n1 = a1; val n2 = a2
        import s.implicits._
        val offDf = offsets.toDF("pid", "off1", "off2")
        val w = Window.partitionBy(col("pid")).orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        parted.join(broadcast(offDf), "pid")
          .withColumn("cum1", col("off1") + sum(col("c1")).over(w))
          .withColumn("cum2", col("off2") + sum(col("c2")).over(w))
          .withColumn("dn", abs(col("cum1") * n2 - col("cum2") * n1))
          .agg(max(col("dn")).as("d_num"))
          .select(lit(n1).as("n1"), lit(n2).as("n2"), col("d_num"),
            (col("d_num").cast("double") / (n1 * n2)).as("ks"))
      },
      Some("""WITH e AS (
          SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1,
            CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
          FROM events WHERE event_type IN ('click', 'purchase')),
        bv AS (SELECT c, SUM(is1) AS c1, SUM(1 - is1) AS c2
          FROM e GROUP BY 1),
        tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
            CAST(SUM(c2) AS BIGINT) AS n2 FROM bv),
        cum AS (SELECT c,
            SUM(c1) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
            SUM(c2) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
          FROM bv)
        SELECT tot.n1, tot.n2,
          CAST(MAX(abs(cum1 * tot.n2 - cum2 * tot.n1)) AS BIGINT) AS d_num,
          CAST(MAX(abs(cum1 * tot.n2 - cum2 * tot.n1)) AS DOUBLE)
            / (tot.n1 * tot.n2) AS ks
        FROM cum, tot GROUP BY tot.n1, tot.n2"""),
      "two-sample KS drift statistic: per-value counts collapse the " +
        "corpus first, global CDFs ride the scalable prefix-sum (no " +
        "SinglePartition), the max runs over cross-multiplied integers " +
        "— exact D at any parallelism, one final division"),

    QueryDef(
      "q104_burst_alert",
      (s, dir) => {
        // Burst alerting against a trailing baseline — the monitoring
        // rule q92's in-pass metrics feed: a 6-hour bucket alerts when
        // its count exceeds 1.5x the mean of its own previous four
        // buckets. The verdict is the cross-multiplied INTEGER
        // comparison 8·cnt > 3·(p1+p2+p3+p4) — no float mean, so both
        // engines agree at every boundary; buckets with an incomplete
        // baseline never alert (NULL-safe on both engines). 31 of 600
        // windows fire at sf0.01 — load-bearing both ways. Scale
        // shape: the corpus collapses to per-(type, bucket) counts
        // first (map-side combine); the lag window runs over that
        // compact table partitioned by type.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("bucket"))
        t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 21600000000").as("bucket"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("base4",
            lag(col("cnt"), 1).over(w) + lag(col("cnt"), 2).over(w)
              + lag(col("cnt"), 3).over(w) + lag(col("cnt"), 4).over(w))
          .withColumn("alert",
            when(col("base4").isNotNull
              && col("cnt") * 8 > col("base4") * 3, 1L).otherwise(0L))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH w AS (
          SELECT event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS bucket,
            COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        l AS (
          SELECT event_type, bucket, cnt,
            LAG(cnt, 1) OVER (PARTITION BY event_type ORDER BY bucket)
              + LAG(cnt, 2) OVER (PARTITION BY event_type ORDER BY bucket)
              + LAG(cnt, 3) OVER (PARTITION BY event_type ORDER BY bucket)
              + LAG(cnt, 4) OVER (PARTITION BY event_type ORDER BY bucket)
              AS base4
          FROM w)
        SELECT event_type, bucket, cnt, base4,
          CAST(CASE WHEN base4 IS NOT NULL AND cnt * 8 > base4 * 3
            THEN 1 ELSE 0 END AS BIGINT) AS alert
        FROM l ORDER BY event_type, bucket"""),
      "burst alerting vs a trailing 4-bucket baseline: per-(type, " +
        "bucket) counts first, one lag window over the compact table, " +
        "integer cross-multiplied 1.5x verdict — 31/600 windows fire " +
        "at sf0.01, incomplete baselines never alert")
  )
}
