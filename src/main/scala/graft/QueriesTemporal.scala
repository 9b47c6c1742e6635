package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{GroupOps, Temporal}

/** Temporal operators over the `events` stream table: as-of join,
  * interval (range) containment join, top-k per group, sliding
  * (hopping) window counts. All four are large-scale pipeline
  * staples Spark has no single-call operator for; each is built as
  * the shuffle-minimal composition (union+window, bucketed
  * equi-join, one window pass) and carries an exact DuckDB oracle.
  */
object QueriesTemporal {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** J11: as-of join — each click picks up the latest preceding
    * purchase of the same user (ties: same-ts purchase counts, max
    * event_id wins). The union+running-last plan shuffles once on
    * user_id; no per-row range scan at any scale. */
  private val j11Asof = Q(
    "j11_asof_join",
    Some("""WITH l AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'),
            r AS (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase'),
            j AS (SELECT l.event_id, l.user_id, l.ts,
                r.ts AS purchase_ts, r.event_id AS purchase_id,
                r.value AS purchase_value,
                ROW_NUMBER() OVER (PARTITION BY l.event_id
                  ORDER BY r.ts DESC, r.event_id DESC) AS rn
              FROM l LEFT JOIN r
                ON l.user_id = r.user_id AND r.ts <= l.ts)
            SELECT event_id, user_id, ts, purchase_ts, purchase_id,
              purchase_value
            FROM j WHERE rn = 1 ORDER BY event_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      Temporal.asofJoin(clicks, purchases, key = "user_id", ts = "ts",
          payload = Seq("event_id", "value"), tieBreak = "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("ts_r").as("purchase_ts"), col("event_id_r").as("purchase_id"),
          col("value_r").as("purchase_value"))
        .orderBy("event_id")
    })

  /** J12: interval containment join — clicks landing inside the
    * 30-minute window after any high-severity error. Both sides are
    * fact-sized event scans; the cell-bucketed equi-join keeps
    * candidates proportional to true matches (no BNLJ). */
  private val j12Range = Q(
    "j12_range_join",
    Some("""WITH w AS (SELECT event_id AS err_id, value AS err_value,
              ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end
              FROM events WHERE event_type = 'error' AND value > 90),
            c AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click')
            SELECT c.event_id, c.user_id, c.ts, w.err_id, w.err_value,
              w.w_start
            FROM c JOIN w ON c.ts >= w.w_start AND c.ts < w.w_end
            ORDER BY c.event_id, w.err_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val windows = ev.where(col("event_type") === "error" && col("value") > 90)
        .select(col("event_id").as("err_id"), col("value").as("err_value"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      Temporal.rangeJoin(clicks, "ts", windows, "w_start", "w_end",
          bucketSeconds = 1800L)
        .select("event_id", "user_id", "ts", "err_id", "err_value", "w_start")
        .orderBy("event_id", "err_id")
    })

  /** X-J15: interval × interval OVERLAP join — high-severity error
    * windows (30 min) against signup-influence windows (60 min);
    * pairs where the windows intersect, with the exact overlap span.
    * The claim-cell rule (emit only in the cell holding the overlap's
    * first instant) makes the cell-bucketed equi-join duplicate-free
    * WITHOUT a distinct shuffle — both sides can be fact-sized. */
  private val j15Overlap = Q(
    "j15_interval_overlap",
    Some("""WITH a AS (SELECT event_id AS err_id, ts AS a_start,
              ts + INTERVAL 30 MINUTE AS a_end
              FROM events WHERE event_type = 'error' AND value > 90),
            b AS (SELECT event_id AS signup_id, ts AS b_start,
              ts + INTERVAL 60 MINUTE AS b_end
              FROM events WHERE event_type = 'signup' AND value > 80)
            SELECT a.err_id, b.signup_id,
              greatest(a.a_start, b.b_start) AS overlap_start,
              least(a.a_end, b.b_end) AS overlap_end,
              epoch_us(least(a.a_end, b.b_end))
                - epoch_us(greatest(a.a_start, b.b_start)) AS overlap_us
            FROM a JOIN b ON a.a_start < b.b_end AND b.b_start < a.a_end
            ORDER BY err_id, signup_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val errs = ev.where(col("event_type") === "error" && col("value") > 90)
        .select(col("event_id").as("err_id"), col("ts").as("a_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("a_end"))
      val signups = ev.where(col("event_type") === "signup" && col("value") > 80)
        .select(col("event_id").as("signup_id"), col("ts").as("b_start"),
          (col("ts") + expr("INTERVAL 60 MINUTES")).as("b_end"))
      Temporal.intervalOverlapJoin(errs, "a_start", "a_end",
          signups, "b_start", "b_end", bucketSeconds = 1800L)
        .select(col("err_id"), col("signup_id"),
          greatest(col("a_start"), col("b_start")).as("overlap_start"),
          least(col("a_end"), col("b_end")).as("overlap_end"),
          (unix_micros(least(col("a_end"), col("b_end")))
            - unix_micros(greatest(col("a_start"), col("b_start"))))
            .as("overlap_us"))
        .orderBy("err_id", "signup_id")
    })

  /** X-J16: nearest-event join, both directions — each click aligned
    * to the temporally CLOSEST error of the same user (past or
    * future), the sensor/log-alignment primitive a backward-only
    * as-of can't express. Two as-of window passes; ties prefer the
    * past, equal-ts rows the largest id. */
  private val j16Nearest = Q(
    "j16_nearest_event",
    Some("""WITH l AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'),
            r AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'error'),
            j AS (SELECT l.event_id, l.user_id, l.ts,
                r.event_id AS err_id, r.ts AS err_ts,
                abs(epoch_us(r.ts) - epoch_us(l.ts)) AS diff_us,
                CAST(CASE WHEN r.event_id IS NULL THEN NULL
                     WHEN r.ts <= l.ts THEN 0 ELSE 1 END AS BIGINT) AS side,
                ROW_NUMBER() OVER (PARTITION BY l.event_id ORDER BY
                  abs(epoch_us(r.ts) - epoch_us(l.ts)),
                  CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END,
                  r.event_id DESC) AS rn
              FROM l LEFT JOIN r ON l.user_id = r.user_id)
            SELECT event_id, user_id, ts, err_id, err_ts, diff_us, side
            FROM j WHERE rn = 1 ORDER BY event_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.where(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      Temporal.nearestJoin(clicks, errors, key = "user_id", ts = "ts",
          idCol = "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_id_n").as("err_id"), col("ts_n").as("err_ts"),
          col("diff_us"),
          col("side").cast(org.apache.spark.sql.types.LongType).as("side"))
        .orderBy("event_id")
    })

  /** X-S19: SCD-2 dimension history — the events stream as a keyed
    * change feed becomes validity intervals (valid_from/valid_to/
    * is_current) in one user-keyed window pass. */
  private val s19Scd2 = Q(
    "s19_scd2_history",
    Some("""SELECT user_id, event_id, event_type AS state,
              ts AS valid_from,
              lead(ts) OVER w AS valid_to,
              lead(ts) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, event_id"""),
    (s, dir) =>
      Temporal.scd2History(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("user_id", "event_id"))

  /** X-EV10: calendar-spine resample + forward fill — every (user,
    * day) cell of the window gets a row: zero-filled daily counts,
    * running cumulative, last observed value carried forward. The
    * gap-filling prerequisite to joining series of different density;
    * spine is keys × days, never event-sized. */
  private val evResample = Q(
    "ev_resample_ffill",
    Some("""WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo,
              max(CAST(ts AS DATE)) AS hi FROM events),
            k AS (SELECT DISTINCT user_id FROM events),
            spine AS (SELECT k.user_id,
              CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE)
                AS d
              FROM k CROSS JOIN b),
            ranked AS (SELECT user_id, CAST(ts AS DATE) AS d, value,
              ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                ORDER BY ts DESC, event_id DESC) AS rn FROM events),
            daily AS (SELECT user_id, d, count(*) AS n,
              max(CASE WHEN rn = 1 THEN value END) AS lastv
              FROM ranked GROUP BY user_id, d),
            j AS (SELECT s.user_id, s.d,
              coalesce(daily.n, 0) AS n, daily.lastv
              FROM spine s LEFT JOIN daily USING (user_id, d)),
            f AS (SELECT user_id, d, n AS n_events,
              CAST(sum(n) OVER w AS BIGINT) AS cum_events,
              last_value(lastv IGNORE NULLS) OVER w AS ffill_value
              FROM j
              WINDOW w AS (PARTITION BY user_id ORDER BY d
                ROWS UNBOUNDED PRECEDING))
            SELECT user_id, strftime(d, '%Y-%m-%d') AS day, n_events,
              cum_events, ffill_value
            FROM f ORDER BY user_id, day"""),
    (s, dir) =>
      Temporal.resampleDaily(t(s, dir, "events"), "user_id", "ts",
          "value", "event_id")
        .orderBy("user_id", "day"))

  /** W4: top-k per group — the 3 highest-price lineitems per
    * supplier, deterministic tie-break. One window pass, shuffle on
    * the (high-cardinality) group key. */
  private val w4TopK = Q(
    "w4_topk_group",
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
              rank_in_group
            FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
                l_extendedprice,
                ROW_NUMBER() OVER (PARTITION BY l_suppkey
                  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
                  AS rank_in_group
              FROM lineitem)
            WHERE rank_in_group <= 3
            ORDER BY l_suppkey, rank_in_group"""),
    (s, dir) =>
      GroupOps.topKPerGroup(
          t(s, dir, "lineitem")
            .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
          keys = Seq("l_suppkey"),
          order = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
            col("l_linenumber").asc),
          k = 3)
        .orderBy("l_suppkey", "rank_in_group"))

  /** ST4 (batch twin): sliding/hopping-window counts — 1-hour
    * windows every 15 minutes, so each event lands in 4 windows.
    * Streams.slidingCounts runs the same plan on readStream;
    * StreamingSpec asserts streaming == batch. */
  private val stSliding = Q(
    "st_sliding_counts",
    Some("""WITH s AS (SELECT ts, event_type, unnest([0, 1, 2, 3]) AS i
              FROM events),
            w AS (SELECT make_timestamp(
                (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - i * 900)
                  * 1000000) AS window_start, event_type FROM s)
            SELECT window_start, event_type, count(*) AS n
            FROM w GROUP BY window_start, event_type
            ORDER BY window_start, event_type"""),
    (s, dir) =>
      graft.streaming.Streams.slidingTypeCounts(t(s, dir, "events"))
        .orderBy("window_start", "event_type"))

  /** X-W7: sliding-window distinct users (hourly actives every 15
    * min) — exact distinct per overlapping window; the a15 HLL sketch
    * is the approx path at 100 TB. */
  private val w7Sliding = Q(
    "w7_sliding_distinct",
    Some("""WITH s AS (SELECT ts, user_id, unnest([0, 1, 2, 3]) AS i
              FROM events),
            w AS (SELECT make_timestamp(
                (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - i * 900)
                  * 1000000) AS window_start, user_id FROM s)
            SELECT window_start, count(DISTINCT user_id) AS n_users,
              count(*) AS n_events
            FROM w GROUP BY window_start
            ORDER BY window_start"""),
    (s, dir) =>
      graft.streaming.Streams.slidingActiveUsers(t(s, dir, "events"))
        .orderBy("window_start"))

  /** W5: time-RANGE window frame — trailing 1-hour per-user count
    * and exact sum. The frame bound runs on integer epoch
    * MICROseconds on both engines (a seconds cast would truncate;
    * a double cast would put the frame boundary at the mercy of
    * rounding), so frames match row-for-row. */
  private val w5TimeWindow = Q(
    "w5_time_range_window",
    Some(s"""SELECT event_id, user_id,
            count(*) OVER w AS n_1h,
            CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS v_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            ORDER BY event_id"""),
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events").select(
          col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .over(w).cast("double").as("v_1h"))
        .orderBy("event_id")
    })

  /** ST5 (batch twin): click→purchase attribution within 1 hour —
    * the stream-stream interval join. StreamsSpec runs the same
    * transform under readStream with watermarked state and asserts
    * streaming == batch. */
  private val stAttribution = Q(
    "st_attribution_join",
    Some("""WITH c AS (SELECT event_id AS click_id, user_id,
              ts AS click_ts FROM events WHERE event_type = 'click'),
            p AS (SELECT event_id AS purchase_id, user_id,
              ts AS purchase_ts, value AS purchase_value FROM events
              WHERE event_type = 'purchase')
            SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id,
              p.purchase_ts, p.purchase_value
            FROM c JOIN p ON c.user_id = p.user_id
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts < c.click_ts + INTERVAL 1 HOUR
            ORDER BY c.click_id, p.purchase_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.Streams.attributionJoin(
          ev.where(col("event_type") === "click"),
          ev.where(col("event_type") === "purchase"))
        .orderBy("click_id", "purchase_id")
    })

  /** X-EV7: gap-based sessionization (30-min inactivity boundary) —
    * the web/product-analytics primitive batch pipelines rebuild
    * daily at fact scale. One user-keyed shuffle; the per-session
    * aggregate reuses the window's partitioning (no second exchange
    * — grouping keys are a superset of the hash keys). Exact micro
    * timestamps throughout. */
  private val evSessionize = Q(
    "ev_sessionize",
    Some("""WITH o AS (SELECT user_id, ts, event_id,
              CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                   OR lag(epoch_us(ts)) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, ts,
              CAST(sum(new_s) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM o)
            SELECT user_id, session_id, min(ts) AS session_start,
              max(ts) AS session_end, count(*) AS n_events,
              max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_id"""),
    (s, dir) =>
      Temporal.sessionize(t(s, dir, "events"), "user_id", "ts",
          gapSeconds = 1800, tieBreak = "event_id")
        .orderBy("user_id", "session_id"))

  /** X-W6: distribution-rank window suite — percent_rank, cume_dist,
    * ntile(4) per group over a deterministic total order. All three
    * are rank-arithmetic (ints + one exact IEEE division), so they
    * hash-match cross-engine; one window shuffle on the group key. */
  private val w6Ranks = Q(
    "w6_rank_suite",
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
              percent_rank() OVER w AS pct_rank,
              cume_dist() OVER w AS cume,
              ntile(4) OVER w AS quartile
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag
              ORDER BY l_extendedprice, l_orderkey, l_linenumber)
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          ntile(4).over(w).cast(org.apache.spark.sql.types.LongType).as("quartile"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** X-EV18: exponential smoothing (EWMA, α = 1/2) of the per-type
    * daily event counts, with the 1-step-ahead forecast error — the
    * classic capacity/forecast smoother, made HASH-EXACT across
    * engines by a dyadic trick: with α = 1/2 the recursion
    * s_d = (x_d + s_{d−1})/2 unrolls to s_d = M_d / 2^{d−1} where
    * M_d = x_1 + Σ_{j=2..d} 2^{j−2}·x_j is an exact INTEGER
    * (cumulative window sum of shifted longs — order-independent,
    * no floating accumulation), and the single final division by a
    * power of two is exact in IEEE for any M < 2^53 (counts ≤ ~10⁶
    * over ≤ 32 periods). No quantization grid needed anywhere.
    * One keyed window pass; per-type state is O(days). */
  private val evEwma = Q(
    "ev_ewma_smooth",
    Some("""WITH d AS (SELECT event_type, day(ts) AS day,
              CAST(count(*) AS BIGINT) AS n_events
              FROM events GROUP BY event_type, day(ts)),
            i AS (SELECT *, CAST(row_number() OVER w AS BIGINT) AS rn,
                LEAD(n_events) OVER w AS next_actual
              FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            m AS (SELECT *, sum(CASE WHEN rn = 1 THEN n_events
                  ELSE n_events * (CAST(1 AS BIGINT) << CAST(rn - 2 AS INT)) END)
                OVER (PARTITION BY event_type ORDER BY rn) AS mcum
              FROM i)
            SELECT event_type, day, n_events,
              CAST(mcum AS DOUBLE)
                / (CAST(1 AS BIGINT) << CAST(rn - 1 AS INT)) AS ewma,
              CASE WHEN next_actual IS NULL THEN NULL
                ELSE abs(next_actual - CAST(mcum AS DOUBLE)
                  / (CAST(1 AS BIGINT) << CAST(rn - 1 AS INT))) END AS forecast_err
            FROM m ORDER BY event_type, day"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          dayofmonth(col("ts")).cast("long").as("day"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val i = d.select(col("event_type"), col("day"), col("n_events"),
        row_number().over(w).cast("long").as("rn"),
        lead(col("n_events"), 1).over(w).as("next_actual"))
      val wcum = Window.partitionBy("event_type").orderBy("rn")
      val m = i.withColumn("mcum",
        sum(when(col("rn") === 1, col("n_events"))
          .otherwise(col("n_events")
            * expr("shiftleft(1L, cast(rn - 2 as int))"))).over(wcum))
      val ewma = col("mcum").cast(org.apache.spark.sql.types.DoubleType) /
        expr("shiftleft(1L, cast(rn - 1 as int))")
      m.select(col("event_type"), col("day"), col("n_events"),
          ewma.as("ewma"),
          when(col("next_actual").isNull, lit(null))
            .otherwise(abs(col("next_actual") - ewma)).as("forecast_err"))
        .orderBy("event_type", "day")
    })

  val all: Seq[Q] = Seq(j11Asof, j12Range, j15Overlap, j16Nearest, w4TopK, stSliding,
    w5TimeWindow, w7Sliding, stAttribution, evSessionize, w6Ranks, s19Scd2, evResample,
    evEwma)
}
