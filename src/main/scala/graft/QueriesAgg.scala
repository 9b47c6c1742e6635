package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.{Det, Tables}
import graft.functions.{Coords, Photometry}
import graft.operators.GroupOps

/** SURVEY §2.4/2.5/2.8 — aggregations, window-shaped ops, photometric
  * scalar math. All oracle-checked.
  */
object QueriesAgg {
  import Det._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** A2: cluster centroids (objtable.py:171-198). avg over
    * integer-valued coords is bit-deterministic (exact double sums). */
  private val a2 = Q(
    "a2_centroids",
    Some("""WITH t AS (SELECT p_brand, p_partkey % 3072 AS x,
              (p_partkey * 7) % 3080 AS y FROM part)
            SELECT p_brand, avg(x) AS x_centroid, avg(y) AS y_centroid
            FROM t GROUP BY p_brand ORDER BY p_brand"""),
    (s, dir) => {
      val df = t(s, dir, "part").select(
        col("p_brand"),
        (col("p_partkey") % 3072).as("x"),
        ((col("p_partkey") * 7) % 3080).as("y"))
      GroupOps.centroids(df, "p_brand", "x", "y").orderBy("p_brand")
    })

  /** A2 weighted variant: inverse-variance-weighted centroid — the
    * aggregation the reference declares but leaves NotImplemented
    * (objtable.py:195-196): sum(x/e²)/sum(1/e²), decimal-exact sums
    * for cross-engine determinism. */
  private val a2w = Q(
    "a2_weighted_centroids",
    Some(s"""WITH t AS (SELECT p_brand, p_partkey % 3072 AS x,
               1.0 + (p_partkey % 7) / 10.0 AS e FROM part)
             SELECT p_brand,
               ${sqlDsum("x / (e * e)", 8)} / ${sqlDsum("1.0 / (e * e)", 8)} AS x_centroid
             FROM t GROUP BY p_brand ORDER BY p_brand"""),
    (s, dir) => {
      val df = t(s, dir, "part").select(
        col("p_brand"),
        (col("p_partkey") % 3072).as("x"),
        (lit(1.0) + (col("p_partkey") % 7) / 10.0).as("e"))
      df.groupBy("p_brand")
        .agg((dsum(col("x") / (col("e") * col("e")), 8) /
          dsum(lit(1.0) / (col("e") * col("e")), 8)).as("x_centroid"))
        .orderBy("p_brand")
    })

  /** A4: per-group mean magnitudes and their difference
    * (_objtable_methods.py:336-341). */
  private val a4 = Q(
    "a4_group_mean_diff",
    Some(s"""SELECT l_partkey,
               ${sqlDavg("l_extendedprice")} AS av_mag,
               ${sqlDavg("l_extendedprice")} - ${sqlDavg("l_extendedprice * (1 - l_discount)")} AS mag_diff
             FROM lineitem GROUP BY l_partkey ORDER BY l_partkey"""),
    (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_partkey")
        .agg(
          davg(col("l_extendedprice")).as("av_mag"),
          (davg(col("l_extendedprice")) -
            davg(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("mag_diff"))
        .orderBy("l_partkey"))

  /** A5+A9: group max + distinct counts (various, SURVEY §2.4). */
  private val a5 = Q(
    "a5_group_max_distinct",
    Some("""SELECT event_type, max(value) AS max_value, min(value) AS min_value,
              count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(max(col("value")).as("max_value"), min(col("value")).as("min_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type"))

  /** A6: exposure-quality table (_objtable_methods.py:190-262) through
    * [[GroupOps.qualityTable]]: the per-RCID python loop collapses into
    * one extra grouping key; one hash aggregate, partials map-side. */
  private val a6 = Q(
    "a6_quality_table",
    Some(s"""WITH t AS (SELECT year(l_shipdate) AS expid, l_returnflag AS fieldid,
               l_linenumber AS rcid,
               abs(10 * (l_tax - l_discount)) * 1000 AS mmd
             FROM lineitem)
             SELECT expid, fieldid, rcid,
               ${sqlDavg("mmd", 6)} AS bias,
               ${sqlDstd("mmd", 6)} AS spread,
               round(quantile_cont(mmd, 0.5), 6) AS median,
               count(*) AS nstars
             FROM t GROUP BY expid, fieldid, rcid
             ORDER BY expid, fieldid, rcid"""),
    (s, dir) => {
      val df = t(s, dir, "lineitem").select(
        year(col("l_shipdate")).cast(LongType).as("expid"),
        col("l_returnflag").as("fieldid"),
        col("l_linenumber").as("rcid"),
        col("l_tax"), col("l_discount"))
      // |10·(tax − discount) − 0| is bit-equal to the oracle's |10·(tax − discount)|
      GroupOps.qualityTable(df, Seq("expid", "fieldid"), "rcid",
        calMag = lit(10) * (col("l_tax") - col("l_discount")), refMag = lit(0.0))
        .orderBy("expid", "fieldid", "rcid")
    })

  /** A7: per-bin IQR (_objtable_methods.py:345-349). */
  private val a7 = Q(
    "a7_binned_iqr",
    Some("""WITH t AS (SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bin,
              l_extendedprice AS v FROM lineitem)
            SELECT bin, round(quantile_cont(v, 0.25), 6) AS q1,
              round(quantile_cont(v, 0.75), 6) AS q3,
              round(quantile_cont(v, 0.75), 6) - round(quantile_cont(v, 0.25), 6) AS iqr,
              count(*) AS n
            FROM t GROUP BY bin ORDER BY bin"""),
    (s, dir) => {
      val df = t(s, dir, "lineitem").select(
        floor(col("l_extendedprice") / 10000).as("bin"), col("l_extendedprice").as("v"))
      df.groupBy("bin")
        .agg(
          round(percentile(col("v"), lit(0.25)), 6).as("q1"),
          round(percentile(col("v"), lit(0.75)), 6).as("q3"),
          (round(percentile(col("v"), lit(0.75)), 6) -
            round(percentile(col("v"), lit(0.25)), 6)).as("iqr"),
          count(lit(1)).as("n"))
        .orderBy("bin")
    })

  /** A8+C8+W3: per-bin median/IQR broadcast back to member rows,
    * normalized distance |v - med| / iqr (_objtable_methods.py:351-362)
    * — agg + broadcast join-back, no driver loop. */
  private val a8 = Q(
    "a8_norm_dist",
    Some("""WITH t AS (SELECT l_orderkey, l_linenumber,
              CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bin,
              l_extendedprice AS v FROM lineitem),
            g AS (SELECT bin, round(quantile_cont(v, 0.5), 6) AS med,
              round(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 6) AS iqr
              FROM t GROUP BY bin)
            SELECT t.l_orderkey, t.l_linenumber, t.bin,
              abs(t.v - g.med) / g.iqr AS norm_dist
            FROM t LEFT JOIN g ON t.bin = g.bin
            ORDER BY t.l_orderkey, t.l_linenumber"""),
    (s, dir) => {
      val df = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") / 10000).as("bin"),
        col("l_extendedprice").as("v"))
      GroupOps.aggJoinBack(df, "bin", Seq(
          round(percentile(col("v"), lit(0.5)), 6).as("med"),
          round(percentile(col("v"), lit(0.75)) - percentile(col("v"), lit(0.25)), 6).as("iqr")))
        .select(col("l_orderkey"), col("l_linenumber"), col("bin"),
          try_divide(abs(col("v") - col("med")), col("iqr")).as("norm_dist"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** A10: full-row dedup (metadata.py:83 drop_duplicates). */
  private val a10 = Q(
    "a10_drop_duplicates",
    Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
            ORDER BY o_orderstatus, o_orderpriority"""),
    (s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
        .orderBy("o_orderstatus", "o_orderpriority"))

  /** A11+A13: global stats report in one row
    * (PS1Cal_matching.py:219-328 `stats`). Field `min_mag` keeps the
    * reference's mislabel — it is a max (SURVEY §2.12). */
  private val a13 = Q(
    "a13_stats_report",
    Some(s"""SELECT count(*) AS datapoints,
               count(DISTINCT l_partkey) AS n_stars,
               count(DISTINCT l_orderkey) AS n_exposures,
               ${sqlDsum("l_tax", 6)} AS sum_airmass,
               max(l_extendedprice * (1 - l_discount)) AS min_mag
             FROM lineitem"""),
    (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("datapoints"),
        countDistinct(col("l_partkey")).as("n_stars"),
        countDistinct(col("l_orderkey")).as("n_exposures"),
        dsum(col("l_tax"), 6).as("sum_airmass"),
        max(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("min_mag")))

  /** A12: lightcurve averages per object (PS1Cal_matching.py:308-309). */
  private val a12 = Q(
    "a12_lightcurve",
    Some(s"""SELECT user_id, ${sqlDavg("value", 6)} AS av_value, count(*) AS n,
               min(ts) AS first_ts, max(ts) AS last_ts
             FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, dir) =>
      t(s, dir, "events").groupBy("user_id")
        .agg(davg(col("value"), 6).as("av_value"), count(lit(1)).as("n"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .orderBy("user_id"))

  /** A14: histogram binning (objtable.py:338-341 diagnostics). */
  private val a14 = Q(
    "a14_histogram",
    Some("""SELECT CAST(floor((l_quantity - 1) / 5) AS BIGINT) AS bin, count(*) AS n
            FROM lineitem GROUP BY bin ORDER BY bin"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(floor((col("l_quantity") - 1) / 5).as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bin"))

  /** W1: nearest-match rank — min per partition via row_number
    * (PS1Cal_matching.py:104 match_to_catalog_sky). */
  private val w1 = Q(
    "w1_nearest_rank",
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
              SELECT l_orderkey, l_linenumber, l_extendedprice,
                ROW_NUMBER() OVER (PARTITION BY l_orderkey
                  ORDER BY l_extendedprice, l_linenumber) AS rn
              FROM lineitem) WHERE rn = 1
            ORDER BY l_orderkey"""),
    (s, dir) =>
      GroupOps.topKPerGroup(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq("l_orderkey"), Seq(col("l_extendedprice"), col("l_linenumber")), 1)
        .drop("rank_in_group")
        .orderBy("l_orderkey"))

  /** W2: largest-wins assignment (srcdf.py:666,680-682: sort-then-
    * overwrite becomes a rank-desc window). */
  private val w2 = Q(
    "w2_largest_wins",
    Some("""SELECT l_partkey, l_orderkey, l_linenumber, l_quantity FROM (
              SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
                ROW_NUMBER() OVER (PARTITION BY l_partkey
                  ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn
              FROM lineitem) WHERE rn = 1
            ORDER BY l_partkey"""),
    (s, dir) =>
      GroupOps.topKPerGroup(
          t(s, dir, "lineitem").select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity"),
          Seq("l_partkey"),
          Seq(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber")), 1)
        .drop("rank_in_group")
        .orderBy("l_partkey"))

  /** W3: per-group value broadcast as a window aggregate (exact
    * decimal sum over the partition — deterministic). */
  private val w3 = Q(
    "w3_window_share",
    Some("""SELECT l_orderkey, l_linenumber,
              l_quantity / CAST(sum(CAST(l_quantity AS DECIMAL(30,4)))
                OVER (PARTITION BY l_orderkey) AS DOUBLE) AS qty_share
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") /
            sum(col("l_quantity").cast(DecimalType(30, 4))).over(w).cast(DoubleType))
            .as("qty_share"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** C2: photometric calibration + full error propagation
    * (srcdf.py:425-443) — pure codegen'd column arithmetic. */
  private val c2 = Q(
    "c2_calmag",
    Some("""SELECT l_orderkey, l_linenumber,
              (l_quantity + l_tax * 10) + l_discount * ((l_extendedprice / 10000) - (l_quantity / 7)) AS cal_mag,
              sqrt((l_discount / 10 + 0.01) * (l_discount / 10 + 0.01)
                + 0.01 * 0.01
                + (0.002 * ((l_extendedprice / 10000) - (l_quantity / 7)))
                  * (0.002 * ((l_extendedprice / 10000) - (l_quantity / 7)))
                + (l_discount * sqrt(0.02 * 0.02 + 0.03 * 0.03))
                  * (l_discount * sqrt(0.02 * 0.02 + 0.03 * 0.03))) AS cal_mag_err
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val mag = col("l_quantity")
      val zp = col("l_tax") * 10
      val cc = col("l_discount")
      val c1 = col("l_extendedprice") / 10000
      val c2c = col("l_quantity") / 7
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (Photometry.calMag(mag, zp, Some(cc), Some(c1), Some(c2c))).as("cal_mag"),
          Photometry.calMagErr(
            eMag = col("l_discount") / 10 + 0.01, eZp = lit(0.01),
            clrcoeff = cc, eClrcoeff = lit(0.002),
            color1 = c1, color2 = c2c,
            eColor1 = lit(0.02), eColor2 = lit(0.03)).as("cal_mag_err"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** C3: band-conditional color choice (objtable.py:307-313). */
  private val c3 = Q(
    "c3_band_conditional",
    Some("""SELECT l_orderkey, l_linenumber,
              CASE WHEN l_linenumber IN (1, 2)
                THEN l_extendedprice - l_quantity
                ELSE l_quantity - l_discount END AS color
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          Photometry.bandConditional(col("l_linenumber"),
            col("l_extendedprice") - col("l_quantity"),
            col("l_quantity") - col("l_discount")).as("color"))
        .orderBy("l_orderkey", "l_linenumber"))

  /** C4: camera-wide coordinates from RCID (srcdf.py:446-506). */
  private val c4 = Q(
    "c4_camera_coord",
    Some("""WITH t AS (SELECT p_partkey, p_partkey % 64 AS rcid,
              p_partkey % 3072 AS x, (p_partkey * 7) % 3080 AS y FROM part),
            q AS (SELECT p_partkey, rcid, x, y,
              CAST(floor(rcid / 4) AS BIGINT) + 1 AS ccd,
              rcid % 4 + 1 AS quad FROM t),
            g AS (SELECT *,
              2 * CAST(floor((ccd - 1) / 4) AS BIGINT)
                + CASE WHEN quad IN (1, 2) THEN 1 ELSE 0 END AS yrc,
              2 * (4 - (ccd - 1) % 4) - 1
                - CASE WHEN quad IN (2, 3) THEN 1 ELSE 0 END AS xrc FROM q)
            SELECT p_partkey, rcid,
              CAST(floor(xrc / 2) AS BIGINT) * 7 + xrc * 3072 + x AS xcam,
              CAST(floor(yrc / 2) AS BIGINT) * 10 + yrc * 3080 + y AS ycam
            FROM g ORDER BY p_partkey"""),
    (s, dir) => {
      val df = t(s, dir, "part").select(
        col("p_partkey"), (col("p_partkey") % 64).as("rcid"),
        (col("p_partkey") % 3072).as("x"), ((col("p_partkey") * 7) % 3080).as("y"))
      val (xcam, ycam) = Coords.cameraCoord(col("rcid"), col("x"), col("y"))
      df.select(col("p_partkey"), col("rcid"), xcam.as("xcam"), ycam.as("ycam"))
        .orderBy("p_partkey")
    })

  /** C5: CCD-wide coordinates (srcdf.py:509-575). */
  private val c5 = Q(
    "c5_ccd_coord",
    Some("""WITH t AS (SELECT p_partkey, p_partkey % 64 AS rcid,
              p_partkey % 3072 AS x, (p_partkey * 7) % 3080 AS y FROM part),
            q AS (SELECT p_partkey, rcid, x, y, rcid % 4 + 1 AS quad FROM t)
            SELECT p_partkey, rcid,
              CASE WHEN quad IN (1, 4) THEN 1 ELSE 0 END * 3072 - x AS xccd,
              CASE WHEN quad IN (1, 2) THEN 1 ELSE 0 END * 3080 - y AS yccd
            FROM q ORDER BY p_partkey"""),
    (s, dir) => {
      val df = t(s, dir, "part").select(
        col("p_partkey"), (col("p_partkey") % 64).as("rcid"),
        (col("p_partkey") % 3072).as("x"), ((col("p_partkey") * 7) % 3080).as("y"))
      val (xccd, yccd) = Coords.ccdCoord(col("rcid"), col("x"), col("y"))
      df.select(col("p_partkey"), col("rcid"), xccd.as("xccd"), yccd.as("yccd"))
        .orderBy("p_partkey")
    })

  /** §2.11: group_stats THROUGH the generic cluster_op surface
    * (df_utils.py:191-231) — an Aggregator with decimal-exact sums,
    * so the generic path itself is oracle-checkable. */
  private val a3g = Q(
    "a3_cluster_op_generic",
    Some(s"""SELECT l_returnflag,
              min(CAST(l_quantity AS DOUBLE)) AS min,
              max(CAST(l_quantity AS DOUBLE)) AS max,
              CAST(count(*) AS DOUBLE) AS count,
              ${sqlDavg("l_quantity", 6)} AS mean,
              ${sqlDstd("l_quantity", 6)} AS std
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, dir) =>
      graft.operators.GroupApply.clusterOp(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity", "group_stats")
        .orderBy("l_returnflag"))

  /** C12: haversine great-circle distance column expression
    * (objtable.py:152-156). Rounded: libm sin/cos differ across
    * engines in the last ulp. */
  private val c12 = Q(
    "c12_haversine",
    Some("""WITH t AS (SELECT p_partkey,
              (p_partkey % 360) + 0.25 AS ra1, (p_partkey % 120) - 60 + 0.5 AS dec1,
              (p_size * 7) % 360 + 0.75 AS ra2, (p_size * 11) % 120 - 60 + 0.25 AS dec2
            FROM part)
            SELECT p_partkey, round(degrees(2 * asin(sqrt(
              sin(radians(dec2 - dec1) / 2) * sin(radians(dec2 - dec1) / 2)
              + cos(radians(dec1)) * cos(radians(dec2))
                * sin(radians(ra2 - ra1) / 2) * sin(radians(ra2 - ra1) / 2)))), 6) AS dist_deg
            FROM t ORDER BY p_partkey"""),
    (s, dir) => {
      val df = t(s, dir, "part").select(
        col("p_partkey"),
        ((col("p_partkey") % 360) + 0.25).as("ra1"),
        ((col("p_partkey") % 120) - 60 + 0.5).as("dec1"),
        ((col("p_size") * 7) % 360 + 0.75).as("ra2"),
        ((col("p_size") * 11) % 120 - 60 + 0.25).as("dec2"))
      df.select(col("p_partkey"),
          round(Photometry.haversineDeg(col("ra1"), col("dec1"), col("ra2"), col("dec2")), 6)
            .as("dist_deg"))
        .orderBy("p_partkey")
    })

  /** A15 (scale extension): sketch aggregates — HyperLogLog++
    * distinct counts and a quantile sketch. At 100 TB these replace
    * their exact counterparts (exact distinct shuffles every key;
    * exact percentile materializes the group) with bounded-memory,
    * mergeable, map-side-combining sketches.
    *
    * Oracle design: a sketch estimate is implementation-defined, so
    * the raw estimates can't hash-match a DuckDB value. Instead the
    * query emits the EXACT companions (hash-gated the normal way)
    * plus in-engine bound checks — HLL within ±5·rsd of the exact
    * distinct count, the quantile sketch between the exact quantiles
    * at p ± 10/accuracy (10× the published rank-error guarantee) —
    * which the oracle asserts as literal TRUE columns: a sketch
    * drifting out of its error envelope turns a boolean false and
    * fails the hash gate. SketchSpec additionally checks the tight
    * (1·guarantee) envelopes. */
  private val a15 = Q(
    "a15_approx_sketch",
    Some(s"""SELECT l_returnflag,
            count(DISTINCT l_partkey) AS nd_partkey,
            round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
            round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
            count(*) AS n_rows,
            TRUE AS nd_approx_ok, TRUE AS p50_approx_ok, TRUE AS p95_approx_ok
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey")).as("nd_partkey"),
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("_nd_approx"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 6).as("p50"),
          round(percentile(col("l_extendedprice"), lit(0.95)), 6).as("p95"),
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("_q"),
          round(percentile(col("l_extendedprice"), lit(0.49)), 6).as("_p50lo"),
          round(percentile(col("l_extendedprice"), lit(0.51)), 6).as("_p50hi"),
          round(percentile(col("l_extendedprice"), lit(0.94)), 6).as("_p95lo"),
          round(percentile(col("l_extendedprice"), lit(0.96)), 6).as("_p95hi"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("nd_partkey"), col("p50"), col("p95"),
          col("n_rows"),
          (abs(col("_nd_approx") - col("nd_partkey")).cast(DoubleType)
            <= lit(5 * 0.02) * col("nd_partkey")).as("nd_approx_ok"),
          col("_q").getItem(0).between(col("_p50lo"), col("_p50hi"))
            .as("p50_approx_ok"),
          col("_q").getItem(1).between(col("_p95lo"), col("_p95hi"))
            .as("p95_approx_ok"))
        .orderBy("l_returnflag"))

  /** A16 (scale extension): single-pass column profiler — the
    * ANALYZE-style stats report, one scan for all columns. */
  private val a16 = Q(
    "a16_column_profile",
    Some {
      def row(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
            count(*) - count($c) AS n_nulls,
            count(DISTINCT $c) AS n_distinct,
            CAST(min($c) AS DOUBLE) AS min_val,
            CAST(max($c) AS DOUBLE) AS max_val FROM lineitem"""
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey")
        .map(row).mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
    },
    (s, dir) =>
      Tables.profile(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey"))
        .orderBy("column"))

  /** A17 (extension): per-group z-score normalization — the standard
    * scaler of feature prep. Decimal-exact mean/std (ddof = 1)
    * broadcast back; zero-std groups null out via try_divide. */
  private val a17 = Q(
    "a17_group_zscore",
    Some(s"""WITH st AS (SELECT event_type, ${sqlDavg("value", 6)} AS mean,
              ${sqlDstd("value", 6)} AS std FROM events GROUP BY event_type)
            SELECT e.event_id, e.event_type, e.value,
              round((e.value - st.mean) / st.std, 6) AS zscore
            FROM events e JOIN st USING (event_type) ORDER BY event_id"""),
    (s, dir) =>
      GroupOps.groupZscore(t(s, dir, "events"), Seq("event_type"), col("value"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("zscore"), 6).as("zscore"))
        .orderBy("event_id"))

  /** A18 (extension): equal-frequency discretization — per-group
    * deciles via ntile over a TOTAL order (value, id): bucketization
    * for feature binning/calibration, deterministic across engines
    * because ties cannot occur. */
  private val a18 = Q(
    "a18_quantile_bins",
    Some("""SELECT event_id, event_type, value,
              ntile(10) OVER (PARTITION BY event_type
                ORDER BY value, event_id) AS decile
            FROM events ORDER BY event_id"""),
    (s, dir) =>
      t(s, dir, "events").select(
          col("event_id"), col("event_type"), col("value"),
          ntile(10).over(Window.partitionBy("event_type")
            .orderBy("value", "event_id")).cast(LongType).as("decile"))
        .orderBy("event_id"))

  /** X-A21: mergeable-sketch rollup — the pre-aggregated sketch-table
    * pattern every 100 TB warehouse runs: per-MONTH HLL sketches over
    * `o_custkey` (one shuffle on the month key), then any coarser
    * range — here quarters — answered by UNION-MERGING the handful of
    * ~4 KB month sketches (`hll_union_agg`) instead of rescanning the
    * fact table. Distinct counts don't add (the same customer orders
    * in several months — `nd_month_sum` rides along, exact, to show
    * the over-count sketches solve). Gate: all exact columns are
    * hash-gated; the merged estimate must land within 5·rsd of the
    * quarter-exact distinct (lgConfigK=12 → rsd = 1.04/√4096 ≈ 1.6%),
    * asserted as a boolean the oracle pins TRUE — a drifting merge
    * flips it and fails the hash. */
  private val a21 = Q(
    "a21_hll_rollup",
    Some("""WITH m AS (SELECT year(o_orderdate)*10 + quarter(o_orderdate) AS yq,
              month(o_orderdate) AS mon, count(DISTINCT o_custkey) AS nd
              FROM orders GROUP BY yq, mon),
            qs AS (SELECT yq, CAST(sum(nd) AS BIGINT) AS nd_month_sum,
              count(*) AS n_months FROM m GROUP BY yq),
            ex AS (SELECT year(o_orderdate)*10 + quarter(o_orderdate) AS yq,
              count(DISTINCT o_custkey) AS nd_exact FROM orders GROUP BY yq)
            SELECT qs.yq, ex.nd_exact, qs.nd_month_sum, qs.n_months,
              TRUE AS merged_ok
            FROM qs JOIN ex USING (yq) ORDER BY yq"""),
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        (year(col("o_orderdate")) * 10 + quarter(col("o_orderdate")))
          .cast(LongType).as("yq"),
        month(col("o_orderdate")).as("mon"), col("o_custkey"))
      val monthly = o.groupBy("yq", "mon").agg(
        hll_sketch_agg(col("o_custkey"), lit(12)).as("sk"),
        count_distinct(col("o_custkey")).as("nd"))
      val rolled = monthly.groupBy("yq").agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"),
        sum(col("nd")).as("nd_month_sum"),
        count(lit(1)).as("n_months"))
      val exact = o.groupBy("yq")
        .agg(count_distinct(col("o_custkey")).as("nd_exact"))
      rolled.join(exact, "yq")
        .select(col("yq"), col("nd_exact"), col("nd_month_sum"),
          col("n_months"),
          (abs(col("_est") - col("nd_exact")).cast(DoubleType)
            <= lit(5 * 1.04 / 64.0) * col("nd_exact")).as("merged_ok"))
        .orderBy("yq")
    })

  /** X-A22: Count-Min heavy hitters + per-row frequency annotation.
    * One mergeable aggregate pass builds the CMS (partials merge
    * across partitions exactly like A21's HLL union — width 2/eps
    * counters, driver-bounded at ~1.6 MB for eps=1e-4); the sketch
    * then rides into the plan as a reference object probed per row by
    * the compiled [[graft.functions.Expressions.CmsEstimateLong]] —
    * approximate global frequency per row with NO groupBy+join-back
    * shuffle. Output: exact top-10 keys (distributed TakeOrdered,
    * total tie-break) with exact counts hash-gated, plus the CMS
    * guarantee booleans (estimate never undercounts; overcount ≤
    * 5·eps·N) the oracle pins TRUE. */
  private val a22 = Q(
    "a22_cms_heavy_hitters",
    Some("""SELECT l_partkey, n_exact, TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
            FROM (SELECT l_partkey, count(*) AS n_exact FROM lineitem
                  GROUP BY l_partkey ORDER BY n_exact DESC, l_partkey LIMIT 10)
            ORDER BY n_exact DESC, l_partkey"""),
    (s, dir) => {
      val eps = 1e-4
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").cast(LongType).as("l_partkey"))
      val row = li.agg(
        count_min_sketch(col("l_partkey"), lit(eps), lit(0.999), lit(42))
          .as("cms"),
        count(lit(1)).as("n")).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
      val slack = (5 * eps * row.getLong(1)).toLong
      val est = graft.functions.Expressions.cmsEstimate(col("l_partkey"), cms)
      li.groupBy("l_partkey").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("l_partkey")).limit(10)
        .select(col("l_partkey"), col("n_exact"),
          (est >= col("n_exact")).as("cms_lower_ok"),
          (est <= col("n_exact") + lit(slack)).as("cms_upper_ok"))
        .orderBy(col("n_exact").desc, col("l_partkey"))
    })

  /** X-A23: CUBE revenue aggregate — the full grouping-sets surface
    * (detail, per-region, per-nation, grand total in ONE pass;
    * Spark plans a single Expand + hash aggregate, the same shape a
    * 100 TB OLAP rollup wants instead of four separate scans).
    * `grouping_id()` (Spark) == `GROUPING(r, n)` (DuckDB) bitmask
    * disambiguates genuine-NULL keys from subtotal rows; exact
    * decimal revenue sums; NULLS FIRST pinned on both sides so the
    * subtotal rows order identically. */
  private val a23 = Q(
    "a23_rollup_cube",
    Some(s"""SELECT r.r_name, n.n_name,
              CAST(GROUPING(r.r_name, n.n_name) AS BIGINT) AS gid,
              ${sqlDsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
              CAST(count(*) AS BIGINT) AS n_rows
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY CUBE(r.r_name, n.n_name)
            ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST"""),
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .select(r("r_name"), n("n_name"),
          (l("l_extendedprice") * (lit(1) - l("l_discount"))).as("_rev"))
        .cube(col("r_name"), col("n_name"))
        .agg(grouping_id().cast(LongType).as("gid"),
          dsum(col("_rev")).as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(col("r_name"), col("n_name"), col("gid"), col("revenue"), col("n_rows"))
        .orderBy(col("gid"), col("r_name").asc_nulls_first,
          col("n_name").asc_nulls_first)
    })

  /** X-A24: Benford's-law first-digit audit — the classic
    * fabricated-data / corruption screen for any positive-valued
    * measure: observed leading-digit shares vs the log-law
    * expectation log10(1+1/d), with the χ² statistic per digit.
    * Digit extraction is STRING-based on the exact integer cents
    * (floor(x·100+0.5) → BIGINT → first char) — no float log10
    * boundary anywhere; expected probabilities ride on the 1e-6
    * floor grid and every share/χ² term is a fixed-shape IEEE
    * expression over exact longs. One scan + one 9-row aggregate;
    * dense digit spine so missing digits report 0. */
  private val a24 = Q(
    "a24_benford_report",
    Some("""WITH c AS (SELECT CAST(substr(CAST(
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              AS VARCHAR), 1, 1) AS INT) AS d
              FROM lineitem WHERE l_extendedprice > 0),
            o AS (SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY d),
            tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o),
            sp AS (SELECT CAST(t.range + 1 AS INT) AS digit FROM range(9) t),
            e AS (SELECT digit,
                floor(ln(1.0 + CAST(1 AS DOUBLE) / digit) / ln(10.0) * 1e6 + 0.5)
                  / 1e6 AS p_expected
              FROM sp)
            SELECT e.digit, coalesce(o.n_obs, 0) AS n_obs,
              CAST(coalesce(o.n_obs, 0) AS DOUBLE) / tot.n AS share,
              e.p_expected,
              (CAST(coalesce(o.n_obs, 0) AS DOUBLE) - e.p_expected * tot.n)
                * (CAST(coalesce(o.n_obs, 0) AS DOUBLE) - e.p_expected * tot.n)
                / (e.p_expected * tot.n) AS chi2_term
            FROM e LEFT JOIN o ON o.d = e.digit CROSS JOIN tot
            ORDER BY e.digit"""),
    (s, dir) => {
      val c = t(s, dir, "lineitem")
        .where(col("l_extendedprice") > 0)
        .select(substring(floor(col("l_extendedprice") * 100 + 0.5)
          .cast(LongType).cast(StringType), 1, 1).cast(IntegerType).as("d"))
      val o = c.groupBy("d").agg(count(lit(1)).as("n_obs"))
      val tot = o.agg(sum(col("n_obs")).as("n"))
      val spine = s.range(9).select((col("id") + 1).cast(IntegerType).as("digit"))
      val e = spine.withColumn("p_expected",
        floor(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
          * 1e6 + 0.5) / 1e6)
      val obs = coalesce(col("n_obs"), lit(0L))
      val obsD = obs.cast(DoubleType)
      e.join(broadcast(o), col("d") === col("digit"), "left")
        .crossJoin(broadcast(tot))
        .select(col("digit"), obs.as("n_obs"),
          (obsD / col("n")).as("share"), col("p_expected"),
          ((obsD - col("p_expected") * col("n"))
            * (obsD - col("p_expected") * col("n"))
            / (col("p_expected") * col("n"))).as("chi2_term"))
        .orderBy("digit")
    })

  val all: Seq[Q] = Seq(a2, a2w, a3g, a4, a5, a6, a7, a8, a10, a12, a13, a14,
    a15, a16, a17, a18, a21, a22, a23, a24, w1, w2, w3, c2, c3, c4, c5, c12)
}
