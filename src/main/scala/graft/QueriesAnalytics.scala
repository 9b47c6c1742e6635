package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.operators.GroupOps
import graft.core.{Det, Tables}

/** General analytics surface beyond the reference's own operators:
  * classic multi-join aggregates (join-order/broadcast planning
  * showcases) and time-series windowing over the events stream.
  */
object QueriesAnalytics {
  import Det._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Q3-shaped: segment-filtered revenue by order, top-priced spine.
    * Catalyst broadcast-joins the filtered dimension. */
  private val q3 = Q(
    "tpch_q3ish",
    Some(s"""SELECT l.l_orderkey,
               ${sqlDsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               o.o_orderpriority
             FROM customer c
             JOIN orders o ON c.c_custkey = o.o_custkey
             JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             WHERE c.c_mktsegment = 'BUILDING'
             GROUP BY l.l_orderkey, o.o_orderpriority
             ORDER BY l_orderkey"""),
    (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(l("l_orderkey"), o("o_orderpriority"))
        .agg(dsum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderpriority"))
        .orderBy("l_orderkey")
    })

  /** Q5-shaped: regional nation revenue through a 6-table join —
    * dimension chain broadcasts, one shuffle for the final aggregate. */
  private val q5 = Q(
    "tpch_q5ish",
    Some(s"""SELECT n.n_name,
               ${sqlDsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
             FROM customer c
             JOIN orders o ON c.c_custkey = o.o_custkey
             JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
             JOIN nation n ON s.s_nationkey = n.n_nationkey
             JOIN region r ON n.n_regionkey = r.r_regionkey
             WHERE r.r_name = 'ASIA'
             GROUP BY n.n_name ORDER BY n.n_name"""),
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val sp = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").where(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(sp, l("l_suppkey") === sp("s_suppkey") &&
          c("c_nationkey") === sp("s_nationkey"))
        .join(n, sp("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        .agg(dsum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"))
        .orderBy("n_name")
    })

  /** JSON property extraction from the events payload column. */
  private val evJson = Q(
    "ev_json_extract",
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events ORDER BY event_id"""),
    (s, dir) =>
      t(s, dir, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy("event_id"))

  /** Time-series windows: previous value and 3-row rolling mean per
    * user (exact decimal window sums keep it deterministic). */
  private val evRolling = Q(
    "ev_rolling_mean",
    Some("""SELECT event_id, user_id, value,
              lag(value) OVER w AS prev_value,
              CAST(sum(CAST(value AS DECIMAL(30,6))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                / count(*) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rolling_mean
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, ts, event_id"""),
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRoll = wOrd.rowsBetween(-2, Window.currentRow)
      t(s, dir, "events").select(
          col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(wOrd).as("prev_value"),
          (sum(col("value").cast(DecimalType(30, 6))).over(wRoll).cast(DoubleType)
            / count(lit(1)).over(wRoll)).as("rolling_mean"))
        .orderBy("user_id", "ts", "event_id")
    })

  /** X-EV11: rolling z-score anomaly detection — each observation
    * scored against its key's TRAILING 8 observations (current row
    * excluded so a spike can't dilute its own baseline); needs ≥ 4
    * history rows and non-degenerate variance, else null z / never
    * flagged. One keyed window, frames O(8) at any corpus size.
    * Mean/std from exact decimal window sums (ev_rolling_mean +
    * Det.dstd identity) so z is the same IEEE division in both
    * engines, emitted round-6. */
  private val anomalySql =
    """WITH b AS (SELECT user_id, ts, event_id, value,
              count(*) OVER w AS n,
              CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s1,
              CAST(sum(CAST(value * value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
          zz AS (SELECT user_id, ts, event_id, value, n,
              sqrt(greatest(0.0, (s2 - s1*s1/CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0))) AS sd,
              s1/CAST(n AS DOUBLE) AS mu
            FROM b),
          z3 AS (SELECT user_id, ts, event_id, value, n, sd, mu,
              CASE WHEN n >= 4 AND sd > 0.0
                THEN round((value - mu) / sd, 6) END AS z
            FROM zz)
          SELECT user_id, ts, event_id, value, z,
            coalesce(abs(z) > 3.0, FALSE)
              OR coalesce(n >= 4 AND sd = 0.0 AND value != mu, FALSE)
              AS is_anomaly
          FROM z3 ORDER BY user_id, ts, event_id"""

  private val evAnomaly = Q(
    "ev_anomaly_zscore",
    Some(anomalySql),
    (s, dir) =>
      graft.operators.Temporal.rollingAnomaly(
          t(s, dir, "events"), "user_id", "ts", "event_id", "value",
          window = 8, minHistory = 4, k = 3.0)
        .select("user_id", "ts", "event_id", "value", "z", "is_anomaly")
        .orderBy("user_id", "ts", "event_id"))

  /** X-ST9: STATEFUL-STREAMING rolling anomaly — the EV11 semantics
    * as events arrive: flatMapGroupsWithState with O(window) per-user
    * state (the trailing observations), each arrival scored against
    * the state BEFORE it joins it; the long-quanta state arithmetic
    * mirrors the batch twin's decimal grid bit-for-bit. The registry
    * entry runs the same state function on the static frame and
    * shares the EV11 oracle VERBATIM; StatefulStreamsSpec drives the
    * real multi-micro-batch engine and asserts parity. */
  private val stAnomaly = Q(
    "st_anomaly_stream",
    Some(anomalySql),
    (s, dir) =>
      graft.streaming.Streams.anomalyStream(t(s, dir, "events"))
        .orderBy("user_id", "ts", "event_id"))

  /** X-EV12: population stability index — THE standard train/serve
    * drift gate: value-decile histograms of the first vs second half
    * of the month, add-1 smoothed, per-bin contribution
    * (p−q)·ln(p/q) quantized at 1e-6. Counts exact; bins dense via a
    * generated 0..9 spine so empty deciles still report; totals are a
    * 1-row broadcast cross (the a19 shape). */
  private val evPsi = Q(
    "ev_psi_drift",
    Some("""WITH b AS (SELECT CAST(least(floor(value / 50), 9) AS INT) AS bin,
              day(ts) <= 15 AS early FROM events),
            c AS (SELECT bin,
                CAST(count(*) FILTER (WHERE early) AS BIGINT) AS c_early,
                CAST(count(*) FILTER (WHERE NOT early) AS BIGINT) AS c_late
              FROM b GROUP BY bin),
            tot AS (SELECT CAST(sum(c_early) AS BIGINT) AS ne,
                CAST(sum(c_late) AS BIGINT) AS nl FROM c),
            d AS (SELECT CAST(t.range AS INT) AS bin,
                coalesce(c.c_early, 0) AS n_early,
                coalesce(c.c_late, 0) AS n_late
              FROM range(10) t LEFT JOIN c ON c.bin = CAST(t.range AS INT))
            SELECT bin, n_early, n_late,
              floor((((n_early + 1.0) / (ne + 10)) - ((n_late + 1.0) / (nl + 10)))
                * ln(((n_early + 1.0) / (ne + 10)) / ((n_late + 1.0) / (nl + 10)))
                * 1e6 + 0.5) / 1e6 AS psi_contrib
            FROM d CROSS JOIN tot ORDER BY bin"""),
    (s, dir) => {
      val binned = t(s, dir, "events").select(
        least(floor(col("value") / 50), lit(9L)).cast("int").as("bin"),
        (dayofmonth(col("ts")) <= 15).as("early"))
      val c = binned.groupBy("bin").agg(
        sum(when(col("early"), 1L).otherwise(0L)).as("c_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("c_late"))
      val tot = c.agg(sum(col("c_early")).as("ne"), sum(col("c_late")).as("nl"))
      val dense = s.range(10).select(col("id").cast("int").as("bin"))
        .join(broadcast(c), Seq("bin"), "left")
        .select(col("bin"),
          coalesce(col("c_early"), lit(0L)).as("n_early"),
          coalesce(col("c_late"), lit(0L)).as("n_late"))
      val pe = (col("n_early") + lit(1.0)) / (col("ne") + lit(10))
      val pl = (col("n_late") + lit(1.0)) / (col("nl") + lit(10))
      dense.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_early"), col("n_late"),
          (floor((pe - pl) * log(pe / pl) * 1e6 + 0.5) / 1e6).as("psi_contrib"))
        .orderBy("bin")
    })

  /** X-M13: semi-supervised label propagation on the part co-purchase
    * graph — 30% of nodes seeded with their p_brand (LCG bucket, no
    * RNG), 3 synchronous majority-vote rounds spread labels to the
    * rest (ties by label asc; unreached nodes stay null). All-integer
    * votes; the oracle unrolls the rounds (the m9 pageRank pattern). */
  private val m13LabelProp = Q(
    "m13_label_prop",
    Some {
      val edgesSql =
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           WHERE a.l_orderkey % 10 = 0"""
      val seedsSql =
        s"""SELECT n.node, CASE WHEN ${graft.operators.Text.sampleBucketSql("n.node")} < 300
              THEN p.p_brand END AS seed_label
            FROM (SELECT DISTINCT src AS node FROM e) n
            JOIN part p ON p.p_partkey = n.node"""
      graft.operators.Graph.labelPropagationSql(edgesSql, seedsSql, rounds = 3)
    },
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      val part = t(s, dir, "part")
      val seeds = e.select(col("src").as("node")).distinct()
        .join(part, col("node") === col("p_partkey"))
        .select(col("node"),
          when(graft.operators.Text.sampleBucket(col("node")) < 300,
            col("p_brand")).as("seed_label"))
      graft.operators.Graph.labelPropagation(e, seeds, rounds = 3)
        .orderBy("node")
    })

  /** X-EV14: two-proportion A/B z-test — deterministic variant
    * assignment (LCG bucket of user_id, no RNG), per-user conversion
    * (any 'purchase'), pooled-variance z-score. Counts are exact
    * integers; the one float chain (rates, pooled p, z) mirrors
    * op-for-op and floor-quantizes at 1e-6 on emission. Two
    * user-keyed aggregates and a 1-row report — nothing fact-sized
    * ever sits on one partition. */
  private val evAbZtest = Q(
    "ev_ab_ztest",
    Some(s"""WITH c AS (SELECT user_id,
              max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY user_id),
            v AS (SELECT CASE WHEN ${graft.operators.Text.sampleBucketSql("user_id")} % 2 = 0
                THEN 'A' ELSE 'B' END AS variant, conv FROM c),
            s AS (SELECT
                CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS n_a,
                CAST(sum(conv) FILTER (WHERE variant = 'A') AS BIGINT) AS conv_a,
                CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS n_b,
                CAST(sum(conv) FILTER (WHERE variant = 'B') AS BIGINT) AS conv_b
              FROM v)
            SELECT n_a, conv_a, n_b, conv_b,
              floor(CAST(conv_a AS DOUBLE) / n_a * 1e6 + 0.5) / 1e6 AS rate_a,
              floor(CAST(conv_b AS DOUBLE) / n_b * 1e6 + 0.5) / 1e6 AS rate_b,
              floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                / sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
                     * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                     * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
                * 1e6 + 0.5) / 1e6 AS z
            FROM s"""),
    (s, dir) => {
      val conv = t(s, dir, "events").groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1)
          .otherwise(0)).as("conv"))
      val v = conv.select(
        when(pmod(graft.operators.Text.sampleBucket(col("user_id")), lit(2L)) === 0, "A")
          .otherwise("B").as("variant"), col("conv"))
      val st = v.agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("conv").cast("long")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("conv").cast("long")).otherwise(0L)).as("conv_b"))
      val pooled = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
      st.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        (floor(col("conv_a").cast("double") / col("n_a") * 1e6 + 0.5) / 1e6).as("rate_a"),
        (floor(col("conv_b").cast("double") / col("n_b") * 1e6 + 0.5) / 1e6).as("rate_b"),
        (floor((col("conv_a").cast("double") / col("n_a")
              - col("conv_b").cast("double") / col("n_b"))
          / sqrt(pooled * (lit(1) - pooled)
               * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
          * 1e6 + 0.5) / 1e6).as("z"))
    })

  /** X-EV20: deterministic bootstrap confidence interval for the
    * mean per-user purchase total — resampling-based uncertainty, the
    * inference tool that works when no closed form does (next to
    * ev_ab_ztest's parametric z). B = 200 resamples of the n user
    * totals WITH replacement, indices from a shared 31-bit LCG
    * (x = (1103515245·(id+1) + 12345) mod 2³¹, idx = x mod n — plain
    * BIGINT arithmetic on both engines, no 64-bit wraparound DuckDB
    * would refuse); CI = the 2.5%/97.5% order statistics (ranks 5 and
    * 196 of the 200 sorted resample means, ties broken by resample
    * id).
    *
    * Determinism: user totals quantized once to micro-LONGS; every
    * resample mean is an exact long sum with one fixed-shape double
    * division chain. Scale shape: the user-total frame is
    * user-dimension-sized; the B-fold replication is a narrow
    * `explode(sequence)` (never a cartesian), the resample lookup one
    * equi-join on the rank, and the 200-row means frame takes a
    * bounded global window. */
  private val evBootstrap = Q(
    "ev_bootstrap_ci",
    Some("""WITH u0 AS (SELECT user_id,
              CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS t
              FROM events WHERE event_type = 'purchase' GROUP BY user_id),
            u AS (SELECT t,
                CAST(row_number() OVER (ORDER BY user_id) - 1 AS BIGINT) AS r,
                CAST(count(*) OVER () AS BIGINT) AS n
              FROM u0),
            rs AS (SELECT u.r, u.n, CAST(b.range AS BIGINT) AS b,
                ((1103515245 * (b.range * u.n + u.r + 1) + 12345)
                  % 2147483648) % u.n AS idx
              FROM u CROSS JOIN range(200) b),
            sm AS (SELECT rs.b,
                CAST(sum(ut.t) AS BIGINT) AS ts,
                CAST(count(*) AS BIGINT) AS cnt
              FROM rs JOIN u ut ON ut.r = rs.idx
              GROUP BY rs.b),
            means AS (SELECT b,
                CAST(ts AS DOUBLE) / 1e6 / cnt AS m,
                row_number() OVER (ORDER BY CAST(ts AS DOUBLE) / 1e6 / cnt, b)
                  AS rk
              FROM sm),
            obs AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(t) AS DOUBLE) / 1e6 / count(*) AS mean_total
              FROM u0)
            SELECT obs.n_users, CAST(200 AS BIGINT) AS n_resamples,
              obs.mean_total,
              (SELECT m FROM means WHERE rk = 5) AS ci_lo,
              (SELECT m FROM means WHERE rk = 196) AS ci_hi
            FROM obs"""),
    (s, dir) => bootstrapCi(t(s, dir, "events")))

  /** ev_bootstrap_ci body, factored out so EdgeCaseSpec can drive it
    * on an empty frame (ADVICE r14). */
  private[graft] def bootstrapCi(events: DataFrame): DataFrame = {
      val u0 = events
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 1e6).cast(LongType)).as("t"))
      // User indexing via the Reindex partition-offset pattern
      // (VERDICT r14 #3): byte-identical to
      // row_number().over(Window.orderBy(user_id)) − 1 (ReindexSpec
      // asserts equality), but the user-DIMENSION frame — which grows
      // with the corpus — never crosses a global window / single task.
      // The user count rides back in on a 1-row broadcast cross (the
      // tx_tfidf N shape; bnljAllowed).
      val nRow = u0.agg(count(lit(1)).as("n"))
      val u = graft.operators.Reindex
        .consecutiveIds(u0.select(col("user_id"), col("t")), "r",
          Seq(col("user_id")))
        .crossJoin(broadcast(nRow))
        .select(col("t"), col("r"), col("n"))
      val rs = u.withColumn("b", explode(sequence(lit(0L), lit(199L))))
        .select(col("b"), col("n"),
          (((lit(1103515245L) * (col("b") * col("n") + col("r") + 1) + 12345L)
            % 2147483648L) % col("n")).as("idx"))
      val sm = rs.join(u.select(col("r").as("idx"), col("t")), Seq("idx"))
        .groupBy("b").agg(sum(col("t")).as("ts"), count(lit(1)).as("cnt"))
      val mExpr = col("ts").cast(DoubleType) / 1e6 / col("cnt")
      val means = sm.select(col("b"), mExpr.as("m"))
        .withColumn("rk", row_number().over(Window.orderBy(col("m"), col("b"))))
      val obs = u0.agg(count(lit(1)).as("n_users"),
        (sum(col("t")).cast(DoubleType) / 1e6 / count(lit(1))).as("mean_total"))
      // LEFT joins on a literal key, not crossJoins (ADVICE r14): on a
      // corpus with zero purchase events `means` is empty and a cross
      // would erase the obs row, while the oracle's scalar subqueries
      // keep it with NULL CIs — the left join preserves twin parity on
      // degenerate input (1-row build sides; result identical when
      // means is non-empty: rk = 5 / 196 each match exactly one row).
      val k = lit(1).as("_k")
      obs.withColumn("n_resamples", lit(200L)).withColumn("_k", lit(1))
        .join(broadcast(means.where(col("rk") === 5)
          .select(k, col("m").as("ci_lo"))), Seq("_k"), "left")
        .join(broadcast(means.where(col("rk") === 196)
          .select(k, col("m").as("ci_hi"))), Seq("_k"), "left")
        .select(col("n_users"), col("n_resamples"), col("mean_total"),
          col("ci_lo"), col("ci_hi"))
  }

  /** X-EV19: Kaplan–Meier survival estimate of time-to-conversion —
    * the right-censoring-aware "how long until a viewer purchases"
    * curve (a plain average over converters is biased: users who
    * never converted carry information too). Duration = whole hours
    * from a user's FIRST view to their first purchase at-or-after
    * it; users with no such purchase are CENSORED at the global
    * observation end (max ts). At each observed duration t:
    * n_risk = users still unresolved entering t, S(t) multiplies by
    * (1 − d_t/n_t).
    *
    * Determinism: durations/counts are exact integers; each step's
    * ln(1 − d/n) is quantized to micro-units as a LONG, the running
    * product is a cumulative SUM of those longs (a fixed SET per
    * row — order-independent), S = round-6 exp of the sum. One
    * user-keyed aggregate + one duration-keyed aggregate + one
    * ordered window; everything that moves is user- or
    * duration-cardinality. */
  private val evSurvival = Q(
    "ev_survival_km",
    Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            p AS (SELECT e.user_id, min(e.ts) AS p_ts
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
              GROUP BY e.user_id),
            mx AS (SELECT max(ts) AS end_ts FROM events),
            du AS (SELECT v.user_id,
                CASE WHEN p.p_ts IS NOT NULL THEN
                  CAST(floor(date_diff('second', v.v_ts, p.p_ts) / 3600.0) AS BIGINT)
                ELSE
                  CAST(floor(date_diff('second', v.v_ts, mx.end_ts) / 3600.0) AS BIGINT)
                END AS dur,
                (p.p_ts IS NOT NULL) AS observed
              FROM v LEFT JOIN p ON v.user_id = p.user_id CROSS JOIN mx),
            g AS (SELECT dur,
                CAST(count(*) FILTER (WHERE observed) AS BIGINT) AS n_events,
                CAST(count(*) FILTER (WHERE NOT observed) AS BIGINT) AS n_censored
              FROM du GROUP BY dur),
            r AS (SELECT *,
                CAST(sum(n_events + n_censored) OVER
                    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) -
                  coalesce(sum(n_events + n_censored) OVER
                    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
              FROM g),
            s AS (SELECT *, CASE WHEN n_events = 0 THEN CAST(0 AS BIGINT)
                WHEN n_events = n_risk THEN CAST(-100000000 AS BIGINT)
                ELSE CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                  * 1e6 + 0.5) AS BIGINT) END AS lnq
              FROM r)
            SELECT dur AS duration_h, n_risk, n_events, n_censored,
              floor(exp(CAST(sum(lnq) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6 AS survival
            FROM s ORDER BY duration_h"""),
    (s, dir) => survivalKm(t(s, dir, "events")))

  /** ev_survival_km body, factored out so EdgeCaseSpec can drive it
    * on an empty frame (ADVICE r14). */
  private[graft] def survivalKm(ev: DataFrame): DataFrame = {
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
      val p = ev.where(col("event_type") === "purchase")
        .join(v, Seq("user_id"))
        .where(col("ts") >= col("v_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      val mx = ev.agg(max(col("ts")).as("end_ts"))
      val du = v.join(p, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(col("p_ts").isNotNull,
            floor(unix_timestamp(col("p_ts"))
              .minus(unix_timestamp(col("v_ts"))).cast(DoubleType) / 3600.0))
            .otherwise(
              floor(unix_timestamp(col("end_ts"))
                .minus(unix_timestamp(col("v_ts"))).cast(DoubleType) / 3600.0))
            .cast(LongType).as("dur"),
          col("p_ts").isNotNull.as("observed"))
      val g = du.groupBy("dur").agg(
        sum(when(col("observed"), 1L).otherwise(0L)).as("n_events"),
        sum(when(!col("observed"), 1L).otherwise(0L)).as("n_censored"))
      // duration-cardinality global windows (bounded rows); the total
      // at-risk count is the FULL-frame window sum — in-plan, no
      // extra count() job (the r12 VERDICT #8 rule)
      val wAll = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wPrev = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("n_risk",
          sum(col("n_events") + col("n_censored")).over(wAll)
            - coalesce(sum(col("n_events") + col("n_censored"))
              .over(wPrev), lit(0L)))
        .withColumn("lnq",
          // d == n: the step factor is exactly 0 — survival is 0 from
          // here on; a -100 (micro-ln) sentinel makes exp round to 0
          // instead of ln(0) (DuckDB raises, Spark NULLs — neither is
          // the curve)
          when(col("n_events") === 0, lit(0L))
            .when(col("n_events") === col("n_risk"), lit(-100000000L))
            .otherwise(floor(log(lit(1.0)
              - col("n_events").cast(DoubleType) / col("n_risk"))
              * 1e6 + 0.5).cast(LongType)))
        .select(col("dur").as("duration_h"), col("n_risk"),
          col("n_events"), col("n_censored"),
          (floor(exp(sum(col("lnq")).over(wCum).cast(DoubleType) / 1e6)
            * 1e6 + 0.5) / 1e6).as("survival"))
        .orderBy("duration_h")
  }

  /** X-EV4: ordered-step funnel (view → click → purchase, each step
    * within 7 days of the previous step's first completion) — the
    * product-analytics staple. Three user-keyed min aggregates, each
    * joined back onto the event stream; every frame that moves is
    * user-cardinality, and at 100 TB the three aggregates shuffle on
    * the same user key so AQE co-partitions them. Timestamps are
    * exact micros — no float anywhere. */
  private val evFunnel = Q(
    "ev_funnel",
    Some("""WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN t1 ON e.user_id = t1.user_id
              WHERE e.event_type = 'click' AND e.ts > t1.t1
                AND e.ts <= t1.t1 + INTERVAL 7 DAY GROUP BY e.user_id),
            t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
              JOIN t2 ON e.user_id = t2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > t2.t2
                AND e.ts <= t2.t2 + INTERVAL 7 DAY GROUP BY e.user_id)
            SELECT * FROM (
              SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM t1
              UNION ALL SELECT 2 AS step, 'click' AS event_type, count(*) AS n_users FROM t2
              UNION ALL SELECT 3 AS step, 'purchase' AS event_type, count(*) AS n_users FROM t3)
            ORDER BY step"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val t1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("_t1"))
      val t2 = ev.join(t1, Seq("user_id"))
        .where(col("event_type") === "click" && col("ts") > col("_t1") &&
          col("ts") <= col("_t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min(col("ts")).as("_t2"))
      val t3 = ev.join(t2, Seq("user_id"))
        .where(col("event_type") === "purchase" && col("ts") > col("_t2") &&
          col("ts") <= col("_t2") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min(col("ts")).as("_t3"))
      def stepCount(df: DataFrame, step: Int, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(name).as("event_type"), col("n_users"))
      stepCount(t1, 1, "view")
        .unionByName(stepCount(t2, 2, "click"))
        .unionByName(stepCount(t3, 3, "purchase"))
        .orderBy("step")
    })

  /** X-EV5: cohort retention matrix — users cohorted by first-event
    * date, distinct actives per (cohort, week offset), retention
    * share. All integer dates/counts; one user-keyed aggregate + one
    * user-keyed join; the output is cohorts × offsets, bounded at any
    * scale. */
  private val evRetention = Q(
    "ev_retention",
    Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
              FROM events GROUP BY user_id),
            o AS (SELECT DISTINCT f.user_id, f.cohort_date,
                CAST(floor(date_diff('day', f.cohort_date, CAST(e.ts AS DATE))
                  / 7.0) AS BIGINT) AS week_offset
              FROM events e JOIN f ON e.user_id = f.user_id),
            c AS (SELECT cohort_date, week_offset, count(*) AS n_users
              FROM o GROUP BY cohort_date, week_offset),
            s AS (SELECT *, max(CASE WHEN week_offset = 0 THEN n_users END)
                OVER (PARTITION BY cohort_date) AS cohort_size FROM c)
            SELECT strftime(cohort_date, '%Y-%m-%d') AS cohort_date,
              week_offset, n_users, cohort_size,
              floor(CAST(n_users AS DOUBLE) * 1000000.0 / cohort_size + 0.5)
                / 1000000.0 AS retention
            FROM s ORDER BY cohort_date, week_offset"""),
    (s, dir) =>
      graft.operators.Temporal.cohortRetention(
          t(s, dir, "events"), "user_id", "ts", bucketDays = 7)
        .orderBy("cohort_date", "week_offset"))

  /** X-EV6: first-order event-type transition matrix — counts and
    * per-source shares of user-consecutive (from → to) pairs, the
    * Markov-chain view of the stream. One user-keyed window shuffle;
    * |types|²-bounded output. */
  private val evTransitions = Q(
    "ev_transitions",
    Some("""WITH nx AS (SELECT event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS to_type FROM events),
            c AS (SELECT from_type, to_type, count(*) AS n FROM nx
              WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
            s AS (SELECT *, CAST(sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS n_from FROM c)
            SELECT from_type, to_type, n, n_from,
              floor(CAST(n AS DOUBLE) * 1000000.0 / n_from + 0.5)
                / 1000000.0 AS share
            FROM s ORDER BY from_type, to_type"""),
    (s, dir) =>
      graft.operators.Temporal.eventTransitions(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type"))

  /** X-EV13: TRAINED first-order Markov next-event predictor with a
    * temporal holdout — train the transition matrix on month-half 1
    * (transitions dated by the LATER event), predict the most likely
    * next type per current type (integer counts, type-asc ties),
    * evaluate accuracy on month-half 2. Train/predict/eval in one
    * plan, all-integer until the final quantized accuracy; model is a
    * |types|-row broadcast. The ev_transitions matrix turned into an
    * actual evaluated predictor. */
  private val evMarkov = Q(
    "ev_markov_eval",
    Some("""WITH nx AS (SELECT user_id, event_type AS from_type,
                lead(event_type) OVER w AS to_type,
                lead(day(ts) <= 15) OVER w AS to_early
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            tr AS (SELECT from_type, to_type FROM nx
              WHERE to_type IS NOT NULL AND to_early),
            te AS (SELECT from_type, to_type FROM nx
              WHERE to_type IS NOT NULL AND NOT to_early),
            c AS (SELECT from_type, to_type, count(*) AS n FROM tr
              GROUP BY from_type, to_type),
            m AS (SELECT from_type, to_type AS predicted FROM
              (SELECT from_type, to_type, ROW_NUMBER() OVER
                 (PARTITION BY from_type ORDER BY n DESC, to_type) AS rn
               FROM c) WHERE rn = 1)
            SELECT te.from_type, m.predicted,
              CAST(count(*) AS BIGINT) AS n_test,
              CAST(sum(CASE WHEN te.to_type = m.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
              floor(CAST(sum(CASE WHEN te.to_type = m.predicted THEN 1 ELSE 0 END)
                  AS DOUBLE) * 1e6 / count(*) + 0.5) / 1e6 AS accuracy
            FROM te LEFT JOIN m ON m.from_type = te.from_type
            GROUP BY te.from_type, m.predicted
            ORDER BY te.from_type"""),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val nx = t(s, dir, "events").select(
        col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"),
        lead(dayofmonth(col("ts")) <= 15, 1).over(w).as("to_early"))
        .where(col("to_type").isNotNull)
      val model = nx.where(col("to_early"))
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("_n"))
      val pred = GroupOps.topKPerGroup(model, Seq("from_type"),
          Seq(col("_n").desc, col("to_type")), 1)
        .select(col("from_type"), col("to_type").as("predicted"))
      nx.where(!col("to_early"))
        .join(broadcast(pred), Seq("from_type"), "left")
        .groupBy("from_type", "predicted")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("from_type"), col("predicted"), col("n_test"), col("n_correct"),
          (floor(col("n_correct").cast("double") * 1e6 / col("n_test") + 0.5) / 1e6)
            .as("accuracy"))
        .orderBy("from_type")
    })

  /** PII scrubbing over event payloads: user ids are rendered into
    * email/phone shapes (derived from real columns — the corpus
    * itself is digit-free), then redacted most-specific-first so the
    * generic digit rule can't eat an email or phone match. Counts are
    * taken on the string state each pattern actually sees. Pure
    * regexp column chain — runs in the scan stage, no shuffle; the
    * regexes live in the Java ∩ RE2 common dialect so both engines
    * agree match-for-match. */
  private val evPii = Q(
    "ev_pii_scrub",
    Some {
      val (emailRe, phoneRe, numRe) = (
        graft.operators.Text.piiPatterns(0)._2,
        graft.operators.Text.piiPatterns(1)._2,
        graft.operators.Text.piiPatterns(2)._2)
      s"""WITH raw AS (SELECT event_id,
            'user ' || CAST(user_id AS VARCHAR) || ' <u'
              || CAST(user_id AS VARCHAR) || '@example.com> tel 555-'
              || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
              || ' ' || props AS s
          FROM events),
          s1 AS (SELECT event_id, s,
            regexp_replace(s, '$emailRe', '<EMAIL>', 'g') AS t1 FROM raw),
          s2 AS (SELECT event_id, s, t1,
            regexp_replace(t1, '$phoneRe', '<PHONE>', 'g') AS t2 FROM s1)
          SELECT event_id,
            len(regexp_extract_all(s, '$emailRe')) AS n_email,
            len(regexp_extract_all(t1, '$phoneRe')) AS n_phone,
            len(regexp_extract_all(t2, '$numRe')) AS n_num,
            regexp_replace(t2, '$numRe', '<NUM>', 'g') AS scrubbed
          FROM s2 ORDER BY event_id"""
    },
    (s, dir) => {
      import graft.operators.Text
      val raw = concat(lit("user "), col("user_id").cast(StringType),
        lit(" <u"), col("user_id").cast(StringType),
        lit("@example.com> tel 555-"),
        lpad((col("event_id") % 10000).cast(StringType), 4, "0"),
        lit(" "), col("props"))
      t(s, dir, "events").select(
          (col("event_id") +: Text.piiCounts(raw)) :+
            Text.scrubPii(raw).as("scrubbed"): _*)
        .orderBy("event_id")
    })

  /** ROLLUP hierarchy totals (beyond the reference's flat groupbys —
    * subtotal rows carry nulls in both engines). */
  private val aggRollup = Q(
    "agg_rollup",
    Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
               ${sqlDsum("l_quantity")} AS sum_qty
             FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** CUBE: all grouping-set combinations in one pass (rollup's
    * lattice sibling; subtotal rows carry nulls in both engines). */
  private val aggCube = Q(
    "agg_cube",
    Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
               ${sqlDsum("l_quantity")} AS sum_qty
             FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))

  /** U4: unpivot/melt — wide metric columns to (metric, value) rows
    * (the pandas melt analog), then a per-metric rollup so the
    * result is bounded at any input size. */
  private val u4Unpivot = Q(
    "u4_unpivot_melt",
    Some(s"""WITH m AS (
               SELECT 'l_discount' AS metric, l_discount AS value FROM lineitem
               UNION ALL
               SELECT 'l_extendedprice', l_extendedprice FROM lineitem
               UNION ALL
               SELECT 'l_quantity', l_quantity FROM lineitem)
             SELECT metric, count(*) AS n, ${sqlDsum("value", 4)} AS v_sum
             FROM m GROUP BY metric ORDER BY metric"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("l_discount"), col("l_extendedprice"), col("l_quantity")),
          "metric", "value")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("v_sum"))
        .orderBy("metric"))

  /** Pivot: per-band columns — the reference's bandwise magnitude
    * columns (_objtable_methods.py:158-188) are exactly a pivot of
    * values by filter id. Oracle: explicit CASE aggregation. */
  private val aggPivot = Q(
    "agg_pivot_bandwise",
    Some(s"""SELECT user_id,
               ${sqlDsum("CASE WHEN event_type = 'click' THEN value END", 6)} AS click,
               ${sqlDsum("CASE WHEN event_type = 'view' THEN value END", 6)} AS view,
               ${sqlDsum("CASE WHEN event_type = 'purchase' THEN value END", 6)} AS purchase
             FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(dsum(col("value"), 6))
        .orderBy("user_id"))

  /** X-A20: concentration report — HHI and top-share metrics over
    * the supplier revenue distribution: the "is this mix too
    * concentrated?" gate (same question tx_domain_mix asks of corpus
    * domains, asked of any keyed measure). Per-key revenue is a
    * decimal-exact aggregate; shares are single IEEE divisions; the
    * HHI sum quantizes each share² on the 1e-12 grid and long-sums —
    * deterministic at any parallelism. Output: one row. */
  private val a20Concentration = Q(
    "a20_concentration",
    Some(s"""WITH r AS (SELECT l_suppkey,
              ${sqlDsum("l_extendedprice")} AS rev
              FROM lineitem GROUP BY l_suppkey),
            t AS (SELECT ${sqlDsum("l_extendedprice")} AS total FROM lineitem),
            s AS (SELECT l_suppkey, rev, rev / t.total AS share,
              ROW_NUMBER() OVER (ORDER BY rev DESC, l_suppkey) AS rk
              FROM r CROSS JOIN t)
            SELECT count(*) AS n_keys,
              (CAST(sum(CAST(floor(share * share * 1e12 + 0.5) AS BIGINT))
                AS DOUBLE)) / 1e12 AS hhi,
              floor(max(CASE WHEN rk = 1 THEN share ELSE 0 END) * 1e6 + 0.5)
                / 1e6 AS top1_share,
              CAST(sum(CASE WHEN rk <= 5
                THEN CAST(floor(share * 1e9 + 0.5) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 1e9 AS top5_share
            FROM s"""),
    (s, dir) => {
      // Scale shape: NO global rank over the key-cardinality shares
      // frame. top1 = max(share) over the distributed
      // orderBy(desc).limit(5) (TakeOrdered) frame — share is
      // monotone in rev (total > 0 constant), so the rank-1 share IS
      // the max; top5 = the sum over those ≤5 rows. n_keys/hhi are a
      // plain aggregate. ReuseExchange dedupes the twice-consumed
      // supplier-revenue subtree.
      val li = t(s, dir, "lineitem")
      val r = li.groupBy("l_suppkey").agg(dsum(col("l_extendedprice")).as("rev"))
      val total = li.agg(dsum(col("l_extendedprice")).as("total"))
      val shares = r.crossJoin(broadcast(total))
        .withColumn("share", col("rev") / col("total"))
      val glob = shares.agg(
        count(lit(1)).as("n_keys"),
        (sum(floor(col("share") * col("share") * 1e12 + 0.5)
          .cast(LongType)).cast(DoubleType) / 1e12).as("hhi"))
      val topAgg = shares
        .orderBy(col("rev").desc, col("l_suppkey")).limit(5)
        .agg(
          (floor(max(col("share")) * 1e6 + 0.5) / 1e6).as("top1_share"),
          (sum(floor(col("share") * 1e9 + 0.5).cast(LongType))
            .cast(DoubleType) / 1e9).as("top5_share"))
      glob.crossJoin(topAgg)
    })

  /** A19: key-skew diagnostics — the pre-flight report that decides
    * whether a join/agg key needs salting (j13) before a cluster run.
    * Top-10 heavy hitters with shares + the max/mean skew ratio.
    * Exact counts, round-6 ratios, key-string tie-break. */
  private val a19Skew = Q(
    "a19_skew_report",
    Some("""WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS n
              FROM lineitem GROUP BY key),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS rows_total,
              count(*) AS n_keys, max(n) AS max_n FROM c),
            top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10),
            r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rank
              FROM top)
            SELECT rank, key, n,
              round(CAST(n AS DOUBLE) / CAST(rows_total AS DOUBLE), 6) AS share,
              n_keys,
              round(CAST(max_n AS DOUBLE) * CAST(n_keys AS DOUBLE)
                / CAST(rows_total AS DOUBLE), 6) AS skew_ratio
            FROM r CROSS JOIN t ORDER BY rank"""),
    (s, dir) =>
      graft.operators.Skew.skewReport(t(s, dir, "lineitem"), "l_suppkey", topK = 10)
        .orderBy("rank"))

  /** X-M9: deterministic distributed PageRank over the part
    * co-purchase graph (parts linked when they appear in the same
    * order — pairs bounded by items-per-order², never corpus²).
    * Three synchronous rounds; every contribution is 1e-12-grid
    * quantized and summed as exact decimals, so the ranks are
    * bit-identical at any parallelism AND mirror op-for-op in the
    * unrolled SQL oracle. The scale path: iteration = one
    * node-keyed join + one node-keyed aggregate, nothing driver-side
    * beyond the node count. */
  private val m9PageRank = Q(
    "m9_pagerank",
    Some(graft.operators.Graph.pageRankSql(
      """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         WHERE a.l_orderkey % 10 = 0""",
      iterations = 3)),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      graft.operators.Graph.pageRank(e, iterations = 3)
        .orderBy("node")
    })

  /** X-M10: triangle count + global clustering coefficient on the
    * part co-purchase graph, via degree-ordered orientation (each
    * triangle counted once from its smallest corner; hub wedge work
    * bounded by oriented out-degree ≈ degeneracy, not deg² — the
    * skew-survival property). The oracle counts p<q<r triads
    * directly; counts are exact integers, the one ratio uses the
    * 1e-6 floor grid. */
  private val m10Triangles = Q(
    "m10_triangles",
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
              WHERE a.l_orderkey % 10 = 0),
            e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e),
            deg AS (SELECT node, count(*) AS deg FROM
              (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
              GROUP BY node),
            tri AS (SELECT count(*) AS n_triangles
              FROM e0 x JOIN e0 y ON y.a = x.a AND y.b > x.b
                JOIN e0 z ON z.a = x.b AND z.b = y.b),
            tot AS (SELECT count(*) AS n_nodes,
                CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
                CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
              FROM deg)
            SELECT n_nodes, n_edges, n_wedges, n_triangles,
              CASE WHEN n_wedges > 0 THEN
                floor(n_triangles * CAST(3 AS DOUBLE) / n_wedges * 1e6 + 0.5) / 1e6
              ELSE CAST(0 AS DOUBLE) END AS global_cc
            FROM tot CROSS JOIN tri"""),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      graft.operators.Graph.triangleStats(e)
    })

  /** X-EV15: last-touch revenue attribution — each purchase's value
    * credited to the user's most recent preceding non-purchase event
    * within a 24 h lookback, else 'direct' (the classic marketing
    * attribution shape). One user-keyed window (IGNORE NULLS last
    * over the strictly-preceding frame) + one channel aggregate;
    * microsecond age arithmetic so both engines cut the lookback on
    * the same grid; exact decimal revenue sums. */
  private val attributionSql =
    s"""WITH e AS (SELECT user_id, ts, event_id, event_type, value,
              last_value(CASE WHEN event_type <> 'purchase'
                THEN struct_pack(tts := ts, tch := event_type) END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t
            FROM events),
          p AS (SELECT CASE WHEN t IS NOT NULL
                AND epoch_us(ts) - epoch_us(t.tts) <= 86400000000 THEN t.tch
                ELSE 'direct' END AS channel, value
            FROM e WHERE event_type = 'purchase')
          SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
            ${sqlDsum("value")} AS revenue
          FROM p GROUP BY channel ORDER BY channel"""

  private val evAttribution = Q(
    "ev_attribution",
    Some(attributionSql),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = last(
        when(col("event_type") =!= "purchase",
          struct(col("ts").as("tts"), col("event_type").as("tch"))),
        ignoreNulls = true).over(w)
      t(s, dir, "events")
        .withColumn("_t", touch)
        .where(col("event_type") === "purchase")
        .select(
          when(col("_t").isNotNull &&
              unix_micros(col("ts")) - unix_micros(col("_t.tts")) <= 86400000000L,
            col("_t.tch")).otherwise(lit("direct")).as("channel"),
          col("value"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
        .orderBy("channel")
    })

  /** X-ST12: STATEFUL-STREAMING last-touch attribution — the
    * [[evAttribution]] semantics as events arrive, per-user last
    * touch in flatMapGroupsWithState state. The registry entry runs
    * the state function on the static frame (one invocation per user
    * == the batch strictly-preceding window) and shares the batch
    * oracle VERBATIM; StatefulStreamsSpec drives real time-split
    * micro-batches (touch in batch 1 attributes a purchase in
    * batch 2 through state). */
  private val stAttribution = Q(
    "st_attribution",
    Some(attributionSql),
    (s, dir) =>
      graft.streaming.Streams.attributionStream(t(s, dir, "events"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
        .orderBy("channel"))

  /** X-M15: k-core decomposition (3 peeling rounds, k=3) on the part
    * co-purchase graph — the community/spam-farm density primitive
    * (nodes that survive iterated low-degree removal). Same iteration
    * discipline as m13/m9: fixed round count, unrolled SQL oracle,
    * per-round frames persisted ([[graft.operators.Graph.kcorePeel]]). */
  private val m14Kcore = Q(
    "m14_kcore",
    Some(graft.operators.Graph.kcorePeelSql(
      """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         WHERE a.l_orderkey % 10 = 0""",
      k = 3, rounds = 3)),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      graft.operators.Graph.kcorePeel(e, k = 3, rounds = 3)
        .orderBy("node")
    })

  /** X-M16: PERSONALIZED PageRank — teleport mass restarts at a seed
    * set (every 20th part), so rank measures proximity to the seeds:
    * the similar-items/recommendation variant of m9. Same iteration
    * machinery, 1e-12 contribution quantization and unrolled-SQL
    * oracle discipline ([[graft.operators.Graph.personalizedPageRank]]). */
  private val m17Ppr = Q(
    "m17_ppr",
    Some(graft.operators.Graph.personalizedPageRankSql(
      edgesSql =
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           WHERE a.l_orderkey % 10 = 0""",
      seedsSql =
        """SELECT DISTINCT l_partkey AS node FROM lineitem
           WHERE l_orderkey % 10 = 0 AND l_partkey % 20 = 0""",
      iterations = 3)),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      val seeds = li.where(col("pk") % 20 === 0)
        .select(col("pk").as("node")).distinct()
      graft.operators.Graph.personalizedPageRank(e, seeds, iterations = 3)
        .orderBy("node")
    })

  /** X-EV16: exact latency quantiles per event type + SLO breach —
    * the ops-analytics staple (p50/p95/p99 dashboards). Exact
    * percentile for oracle parity (percentile_approx is the 100 TB
    * path — the a7 convention); round-6 emission because the two
    * engines' linear interpolation differs in the last ulp. */
  private val evLatencyQuantiles = Q(
    "ev_latency_quantiles",
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              round(quantile_cont(value, 0.50), 6) AS p50,
              round(quantile_cont(value, 0.95), 6) AS p95,
              round(quantile_cont(value, 0.99), 6) AS p99,
              round(quantile_cont(value, 0.95), 6) > 90.0 AS slo_breach
            FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(percentile(col("value"), lit(0.50)), 6).as("p50"),
          round(percentile(col("value"), lit(0.95)), 6).as("p95"),
          round(percentile(col("value"), lit(0.99)), 6).as("p99"))
        .withColumn("slo_breach", col("p95") > 90.0)
        .orderBy("event_type"))

  /** X-EV8: day-over-day distribution drift of the event-type mix,
    * as total-variation distance — the monitoring gate that catches a
    * pipeline silently changing its input mix. Shares and the TV sum
    * are a FIXED-ORDER scalar expression over the pivoted daily row
    * (never a float aggregate), so the result is bit-deterministic
    * with no rounding; the only shuffles are the daily count
    * aggregate and one day-ordered window over days-cardinality
    * rows. */
  private val evDrift = Q(
    "ev_drift_tv", {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val counts = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
        .mkString(",\n              ")
      val shares = types.map(t =>
        s"CAST(n_$t AS DOUBLE) / total AS p_$t").mkString(", ")
      val lags = types.map(t =>
        s"lag(p_$t) OVER (ORDER BY day) AS q_$t").mkString(", ")
      val tv = types.map(t => s"abs(p_$t - q_$t)").mkString(" + ")
      Some(s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
              $counts,
              count(*) AS total
            FROM events GROUP BY day),
          s AS (SELECT day, total, $shares FROM d),
          l AS (SELECT day, total, ${types.map(t => s"p_$t").mkString(", ")},
              $lags FROM s)
          SELECT strftime(day, '%Y-%m-%d') AS day, total,
            CASE WHEN q_click IS NULL THEN NULL
              ELSE CAST(0.5 AS DOUBLE) * ($tv) END AS tv_drift
          FROM l ORDER BY day""")
    },
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggCols = types.map(ty => sum(when(col("event_type") === ty, 1L)
        .otherwise(0L)).as(s"n_$ty")) :+ count(lit(1)).as("total")
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(aggCols.head, aggCols.tail: _*)
      val withShares = types.foldLeft(daily) { (df, ty) =>
        df.withColumn(s"p_$ty", col(s"n_$ty").cast(DoubleType) / col("total"))
      }
      val w = Window.orderBy("day")
      val withLags = types.foldLeft(withShares) { (df, ty) =>
        df.withColumn(s"q_$ty", lag(col(s"p_$ty"), 1).over(w))
      }
      val tv = types.map(ty => abs(col(s"p_$ty") - col(s"q_$ty")))
        .reduce(_ + _)
      withLags.select(
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("total"),
          when(col("q_click").isNull, lit(null).cast(DoubleType))
            .otherwise(lit(0.5) * tv).as("tv_drift"))
        .orderBy("day")
    })

  /** X-M11: degree distribution of the co-purchase graph — the
    * graph-shaped companion of a19's key-skew report (a heavy tail
    * here is the signal to orient/salt before graph joins). Two
    * aggregates; output bounded by distinct degrees. */
  private val m11Degrees = Q(
    "m11_degree_dist",
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
              WHERE a.l_orderkey % 10 = 0),
            e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e),
            deg AS (SELECT node, count(*) AS deg FROM
              (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
              GROUP BY node)
            SELECT deg, count(*) AS n_nodes FROM deg
            GROUP BY deg ORDER BY deg"""),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      graft.operators.Graph.degreeDistribution(e).orderBy("deg")
    })

  /** X-EP5: the user-360 flagship — one wide per-user profile
    * composed from the event operators: lifetime stats, purchase
    * totals (decimal-exact), session counts/durations (the EV7
    * operator), and the furthest funnel stage reached (the EV4
    * windows). EVERY aggregate and join in the composite keys on
    * user_id, so at 100 TB the whole pipeline is ONE shuffle key:
    * the aggregates co-partition, the joins between them are
    * co-partitioned merges, and nothing detail-sized moves twice. */
  private val ep5User360 = Q(
    "ep5_user360",
    Some(s"""WITH base AS (SELECT user_id,
              strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS first_date,
              strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS last_date,
              count(*) AS n_events,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
              ${sqlDsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
                AS purchase_value
            FROM events GROUP BY user_id),
          o AS (SELECT user_id, ts, event_id,
              CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                   OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          sid AS (SELECT user_id, ts,
              CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM o),
          sess0 AS (SELECT user_id, session_id,
              max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
            FROM sid GROUP BY user_id, session_id),
          sess AS (SELECT user_id, count(*) AS n_sessions,
              CAST(sum(dur_us) AS BIGINT) AS total_session_us
            FROM sess0 GROUP BY user_id),
          t1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
            JOIN t1 ON e.user_id = t1.user_id
            WHERE e.event_type = 'click' AND e.ts > t1.t1
              AND e.ts <= t1.t1 + INTERVAL 7 DAY GROUP BY e.user_id),
          t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
            JOIN t2 ON e.user_id = t2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t2.t2
              AND e.ts <= t2.t2 + INTERVAL 7 DAY GROUP BY e.user_id)
          SELECT b.user_id, b.first_date, b.last_date, b.n_events,
            b.n_purchases, b.purchase_value, s.n_sessions,
            s.total_session_us,
            CASE WHEN t3.user_id IS NOT NULL THEN 3
                 WHEN t2.user_id IS NOT NULL THEN 2
                 WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage
          FROM base b JOIN sess s ON b.user_id = s.user_id
            LEFT JOIN t1 ON b.user_id = t1.user_id
            LEFT JOIN t2 ON b.user_id = t2.user_id
            LEFT JOIN t3 ON b.user_id = t3.user_id
          ORDER BY b.user_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.groupBy("user_id").agg(
        date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("first_date"),
        date_format(max(to_date(col("ts"))), "yyyy-MM-dd").as("last_date"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0))).as("purchase_value"))
      val sess = graft.operators.Temporal
        .sessionize(ev, "user_id", "ts", 1800, "event_id")
        .groupBy("user_id").agg(
          count(lit(1)).as("n_sessions"),
          sum(col("duration_us")).as("total_session_us"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("_t1"))
      val t2 = ev.join(t1, Seq("user_id"))
        .where(col("event_type") === "click" && col("ts") > col("_t1") &&
          col("ts") <= col("_t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min(col("ts")).as("_t2"))
      val t3 = ev.join(t2, Seq("user_id"))
        .where(col("event_type") === "purchase" && col("ts") > col("_t2") &&
          col("ts") <= col("_t2") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min(col("ts")).as("_t3"))
      base.join(sess, Seq("user_id"))
        .join(t1.withColumn("_s1", lit(1)).drop("_t1"), Seq("user_id"), "left")
        .join(t2.withColumn("_s2", lit(2)).drop("_t2"), Seq("user_id"), "left")
        .join(t3.withColumn("_s3", lit(3)).drop("_t3"), Seq("user_id"), "left")
        .withColumn("funnel_stage",
          coalesce(col("_s3"), col("_s2"), col("_s1"), lit(0)))
        .drop("_s1", "_s2", "_s3")
        .orderBy("user_id")
    })

  /** X-EV9: CEP-lite strict-sequence detection — view→click→purchase
    * with NO intervening event, the lightweight MATCH_RECOGNIZE /
    * Flink-CEP shape (EV4's funnel allows gaps; this is the strict
    * variant). One user-keyed window pass with lead(1)/lead(2);
    * never a self-join. */
  private val cepSql =
    """WITH s AS (SELECT user_id, event_id, ts, event_type,
              lead(event_type, 1) OVER w AS t1,
              lead(event_type, 2) OVER w AS t2,
              lead(event_id, 1) OVER w AS id1,
              lead(event_id, 2) OVER w AS id2,
              lead(ts, 2) OVER w AS ts2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id AS view_id, id1 AS click_id,
              id2 AS purchase_id, ts AS view_ts,
              epoch_us(ts2) - epoch_us(ts) AS span_us
            FROM s
            WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
            ORDER BY user_id, view_id"""

  private val evCep = Q(
    "ev_cep_pattern",
    Some(cepSql),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events").select(
          col("user_id"), col("event_id"), col("ts"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("_t1"),
          lead(col("event_type"), 2).over(w).as("_t2"),
          lead(col("event_id"), 1).over(w).as("_id1"),
          lead(col("event_id"), 2).over(w).as("_id2"),
          lead(col("ts"), 2).over(w).as("_ts2"))
        .where(col("event_type") === "view" && col("_t1") === "click" &&
          col("_t2") === "purchase")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("_id1").as("click_id"), col("_id2").as("purchase_id"),
          col("ts").as("view_ts"),
          (unix_micros(col("_ts2")) - unix_micros(col("ts"))).as("span_us"))
        .orderBy("user_id", "view_id")
    })

  /** X-ST7: the stateful-streaming twin of ev_cep_pattern — the same
    * strict sequence detected by flatMapGroupsWithState with O(1)
    * per-user state (last two events). The registered query runs the
    * state function on the static frame (Spark executes it per group
    * in one pass) and shares the batch oracle VERBATIM;
    * StatefulStreamsSpec drives the real multi-micro-batch engine
    * and asserts parity. */
  private val stCep = Q(
    "st_stream_cep",
    Some(cepSql),
    (s, dir) =>
      graft.streaming.Streams.streamCepMatches(t(s, dir, "events"))
        .orderBy("user_id", "view_id"))

  val all: Seq[Q] = Seq(a19Skew, q3, q5, evJson, evRolling, evAnomaly, evFunnel, evSurvival, evBootstrap, evAbZtest, evPsi, evMarkov, m13LabelProp,
    evRetention, evTransitions, evPii, evAttribution, stAttribution, evLatencyQuantiles, m9PageRank, m10Triangles, m14Kcore, m17Ppr, m11Degrees,
    evDrift, ep5User360, evCep, stCep, stAnomaly, a20Concentration, aggRollup, aggCube, u4Unpivot, aggPivot)
}
