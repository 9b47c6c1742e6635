package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Det, Tables}
import graft.ml.{Jenks, Odr, Ols}
import graft.operators.{Clustering, Joins, Outliers, Spatial}

/** SURVEY §2.3 spatial joins + §2.9 ML-flavored operators.
  *
  * Synthetic planar coordinates are derived deterministically from
  * keys so the DuckDB oracle can replicate them; distance arithmetic
  * on integers is exact, keeping results hash-identical.
  */
object QueriesSpatial {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def partPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      (col("p_partkey") % 1000).as("px"),
      ((col("p_partkey") * 13) % 1000).as("py"))

  private def suppPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").select(
      col("s_suppkey"),
      ((col("s_suppkey") * 37) % 1000).as("sx"),
      ((col("s_suppkey") * 91) % 1000).as("sy"))

  private val partPointsSql =
    "SELECT p_partkey, p_partkey % 1000 AS px, (p_partkey * 13) % 1000 AS py FROM part"
  private val suppPointsSql =
    "SELECT s_suppkey, (s_suppkey * 37) % 1000 AS sx, (s_suppkey * 91) % 1000 AS sy FROM supplier"

  /** J3: radius-bounded nearest-neighbor join via grid-cell bucketing
    * (PS1Cal_matching.py:21-132 match_to_PS1cal_fields). Unmatched
    * rows keep nulls (the reference's NaN-flag, :113-117). Oracle:
    * brute-force cross join — same answer, different physical plan. */
  private val j3 = Q(
    "j3_nn_join",
    Some(s"""WITH p AS ($partPointsSql), s AS ($suppPointsSql),
             cand AS (SELECT p.p_partkey, s.s_suppkey,
               (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) AS dist2
               FROM p, s
               WHERE (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) <= 22500),
             best AS (SELECT * FROM (SELECT cand.*, ROW_NUMBER() OVER
               (PARTITION BY p_partkey ORDER BY dist2, s_suppkey) AS rn FROM cand)
               WHERE rn = 1)
             SELECT p.p_partkey, best.s_suppkey, best.dist2
             FROM p LEFT JOIN best ON p.p_partkey = best.p_partkey
             ORDER BY p.p_partkey"""),
    (s, dir) =>
      Spatial.nnJoinWithin(
          partPoints(s, dir), "p_partkey", "px", "py",
          suppPoints(s, dir), "s_suppkey", "sx", "sy", radius = 150.0)
        .select("p_partkey", "s_suppkey", "dist2")
        .orderBy("p_partkey"))

  /** X-J19: k-nearest-neighbors join (k = 3) — the k > 1
    * generalization of J3's radius-bounded NN join, the shape a
    * cross-match pipeline runs when it wants candidate LISTS (e.g.
    * ambiguous-match resolution) instead of a single best. Same
    * grid-cell bucketing, per-left rank ≤ k window; INNER semantics
    * (fewer-than-k neighbors emit fewer rows — the null-flag
    * convention stays with J3). Oracle: brute-force cross join,
    * same rank rule. */
  private val j18Knn = Q(
    "j18_knn_join",
    Some(s"""WITH p AS ($partPointsSql), s AS ($suppPointsSql),
             cand AS (SELECT p.p_partkey, s.s_suppkey,
               (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) AS dist2
               FROM p, s
               WHERE (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) <= 22500),
             best AS (SELECT * FROM (SELECT cand.*, ROW_NUMBER() OVER
               (PARTITION BY p_partkey ORDER BY dist2, s_suppkey) AS rn FROM cand)
               WHERE rn <= 3)
             SELECT p_partkey, s_suppkey, dist2, CAST(rn AS BIGINT) AS rank
             FROM best ORDER BY p_partkey, rank"""),
    (s, dir) =>
      Spatial.knnJoinWithin(
          partPoints(s, dir), "p_partkey", "px", "py",
          suppPoints(s, dir), "s_suppkey", "sx", "sy", radius = 150.0, k = 3)
        .select("p_partkey", "s_suppkey", "dist2", "rank")
        .orderBy("p_partkey", "rank"))

  /** J4: per-row index-probe NN (PS1Cal_matching.py:135-217) — the
    * probe loop becomes the same bucketed join, shuffle (non-
    * broadcast) flavor, opposite direction. */
  private val j4 = Q(
    "j4_nn_probe",
    Some(s"""WITH p AS ($partPointsSql), s AS ($suppPointsSql),
             cand AS (SELECT s.s_suppkey, p.p_partkey,
               (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) AS dist2
               FROM s, p
               WHERE (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) <= 2500),
             best AS (SELECT * FROM (SELECT cand.*, ROW_NUMBER() OVER
               (PARTITION BY s_suppkey ORDER BY dist2, p_partkey) AS rn FROM cand)
               WHERE rn = 1)
             SELECT s.s_suppkey, best.p_partkey, best.dist2
             FROM s LEFT JOIN best ON s.s_suppkey = best.s_suppkey
             ORDER BY s.s_suppkey"""),
    (s, dir) =>
      Spatial.nnJoinWithin(
          suppPoints(s, dir), "s_suppkey", "sx", "sy",
          partPoints(s, dir), "p_partkey", "px", "py",
          radius = 50.0, broadcastRight = false)
        .select("s_suppkey", "p_partkey", "dist2")
        .orderBy("s_suppkey"))

  /** J5: centroid-level match then fan back to members
    * (_objtable_methods.py:87-109 use='clusters'): A2 centroids ->
    * NN join -> J2 merge-back onto all member rows. */
  private val j5 = Q(
    "j5_centroid_match",
    Some(s"""WITH p AS ($partPointsSql),
             pp AS (SELECT p_partkey, p_brand, p_partkey % 1000 AS px,
               (p_partkey * 13) % 1000 AS py FROM part),
             c AS (SELECT p_brand, avg(px) AS cx, avg(py) AS cy FROM pp GROUP BY p_brand),
             s AS ($suppPointsSql),
             cand AS (SELECT c.p_brand, s.s_suppkey,
               (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS dist2
               FROM c, s
               WHERE (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) <= 40000),
             best AS (SELECT * FROM (SELECT cand.*, ROW_NUMBER() OVER
               (PARTITION BY p_brand ORDER BY dist2, s_suppkey) AS rn FROM cand)
               WHERE rn = 1)
             SELECT pp.p_partkey, pp.p_brand, best.s_suppkey, best.dist2
             FROM pp LEFT JOIN best ON pp.p_brand = best.p_brand
             ORDER BY pp.p_partkey"""),
    (s, dir) => {
      val pp = t(s, dir, "part").select(
        col("p_partkey"), col("p_brand"),
        (col("p_partkey") % 1000).as("px"),
        ((col("p_partkey") * 13) % 1000).as("py"))
      val cents = pp.groupBy("p_brand").agg(avg("px").as("cx"), avg("py").as("cy"))
      val matched = Spatial.nnJoinWithin(
          cents, "p_brand", "cx", "cy",
          suppPoints(s, dir), "s_suppkey", "sx", "sy", radius = 200.0)
        .select("p_brand", "s_suppkey", "dist2")
      Joins.suffixJoin(pp.select("p_partkey", "p_brand"), matched, Seq("p_brand"), "_match")
        .orderBy("p_partkey")
    })

  private val sphereVecSql = (ra: String, dec: String, p: String) =>
    s"""cos(radians($dec)) * cos(radians($ra)) AS ${p}x,
        cos(radians($dec)) * sin(radians($ra)) AS ${p}y,
        sin(radians($dec)) AS ${p}z"""

  /** J3 spherical flavor: haversine NN within an angular radius on
    * (ra, dec) — wrap/pole-safe via 3D unit-vector cells. Supplier
    * coordinates are offset 0.05° so no cross-pair is coincident
    * (coincident pairs would round-race libm noise at 1e-6 deg). */
  private val j3s = Q(
    "j3s_nn_sphere",
    Some(s"""WITH p AS (SELECT p_partkey, (p_partkey % 3600) / 10.0 AS ra,
               ((p_partkey * 7) % 1200) / 10.0 - 60 AS dec FROM part),
             s AS (SELECT s_suppkey, (s_suppkey * 37) % 3600 / 10.0 + 0.05 AS ra,
               ((s_suppkey * 91) % 1200) / 10.0 - 60 + 0.05 AS dec FROM supplier),
             pv AS (SELECT p_partkey, ${sphereVecSql("ra", "dec", "u")} FROM p),
             sv AS (SELECT s_suppkey, ${sphereVecSql("ra", "dec", "v")} FROM s),
             cand AS (SELECT pv.p_partkey, sv.s_suppkey,
               round(degrees(2.0 * asin(sqrt(
                 (ux - vx) * (ux - vx) + (uy - vy) * (uy - vy)
                 + (uz - vz) * (uz - vz)) / 2.0)), 6) AS dist_deg
               FROM pv, sv),
             best AS (SELECT * FROM (SELECT cand.*, ROW_NUMBER() OVER
               (PARTITION BY p_partkey ORDER BY dist_deg, s_suppkey) AS rn
               FROM cand WHERE dist_deg <= 2.0) WHERE rn = 1)
             SELECT p.p_partkey, best.s_suppkey, best.dist_deg
             FROM p LEFT JOIN best ON p.p_partkey = best.p_partkey
             ORDER BY p.p_partkey"""),
    (s, dir) => {
      val p = t(s, dir, "part").select(
        col("p_partkey"),
        ((col("p_partkey") % 3600) / 10.0).as("ra"),
        (((col("p_partkey") * 7) % 1200) / 10.0 - 60).as("dec"))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey"),
        ((col("s_suppkey") * 37) % 3600 / 10.0 + 0.05).as("sra"),
        (((col("s_suppkey") * 91) % 1200) / 10.0 - 60 + 0.05).as("sdec"))
      Spatial.nnJoinSphere(p, "p_partkey", "ra", "dec",
          sup, "s_suppkey", "sra", "sdec", radiusDeg = 2.0)
        .select("p_partkey", "s_suppkey", "dist_deg")
        .orderBy("p_partkey")
    })

  /** J9: point-in-circle theta join, largest-grain-wins
    * (srcdf.py:616-694 tag_dust). Clean rows keep null grain columns
    * (split on `dust_r IS NULL` = reference's clean/dusty split). */
  private val j9 = Q(
    "j9_dust_theta_join",
    Some(s"""WITH p AS ($partPointsSql),
             g AS (SELECT s_suppkey, (s_suppkey * 37) % 1000 AS gx,
               (s_suppkey * 91) % 1000 AS gy, 20 + (s_suppkey % 80) AS gr FROM supplier),
             cand AS (SELECT p.p_partkey, g.s_suppkey, g.gx, g.gy, g.gr
               FROM p, g
               WHERE (p.px - g.gx) * (p.px - g.gx) + (p.py - g.gy) * (p.py - g.gy)
                 <= (g.gr * 1.0) * (g.gr * 1.0)),
             best AS (SELECT * FROM (SELECT cand.*, ROW_NUMBER() OVER
               (PARTITION BY p_partkey ORDER BY gr DESC, s_suppkey) AS rn FROM cand)
               WHERE rn = 1)
             SELECT p.p_partkey, p.px, p.py, best.s_suppkey,
               best.gx AS dust_x, best.gy AS dust_y, best.gr AS dust_r,
               best.gr IS NOT NULL AS dusty
             FROM p LEFT JOIN best ON p.p_partkey = best.p_partkey
             ORDER BY p.p_partkey"""),
    (s, dir) => {
      val grains = t(s, dir, "supplier").select(
        col("s_suppkey"),
        ((col("s_suppkey") * 37) % 1000).as("gx"),
        ((col("s_suppkey") * 91) % 1000).as("gy"),
        (lit(20) + (col("s_suppkey") % 80)).as("gr"))
      Spatial.thetaCircleJoin(
          partPoints(s, dir), "p_partkey", "px", "py",
          grains, "s_suppkey", "gx", "gy", "gr", radiusMultiplier = 1.0)
        .select(col("p_partkey"), col("px"), col("py"), col("s_suppkey"),
          col("gx").as("dust_x"), col("gy").as("dust_y"), col("gr").as("dust_r"),
          col("gr").isNotNull.as("dusty"))
        .orderBy("p_partkey")
    })

  /** M1: DBSCAN clustering (objtable.py:116-168) — grid-cell ε-graph
    * + label propagation. Oracle: brute-force pairs + recursive-CTE
    * connected components (sf0.01 only; the Spark side is the scale
    * path). Labels are min member id — content-derived. */
  private val m1 = Q(
    "m1_dbscan",
    Some("""WITH RECURSIVE pts AS (SELECT p_partkey AS id,
              (p_partkey * 17) % 500 AS x, (p_partkey * 29) % 500 AS y FROM part),
            pairs AS (SELECT a.id AS a, b.id AS b FROM pts a, pts b
              WHERE a.id != b.id
                AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25),
            core AS (SELECT a AS id FROM pairs GROUP BY a HAVING count(*) >= 1),
            cedges AS (SELECT a, b FROM pairs
              WHERE a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)),
            r(id, label) AS (
              SELECT id, id FROM core
              UNION
              SELECT e.b, r.label FROM r JOIN cedges e ON r.id = e.a),
            cc AS (SELECT id, min(label) AS cluster FROM r GROUP BY id),
            border AS (SELECT p.a AS id, min(c.cluster) AS cluster
              FROM pairs p JOIN cc c ON p.b = c.id
              WHERE p.a NOT IN (SELECT id FROM core) GROUP BY p.a)
            SELECT id AS p_partkey, cluster FROM cc
            UNION ALL SELECT id, cluster FROM border
            ORDER BY p_partkey"""),
    (s, dir) => {
      // mod-500 positions deliberately stack sf*10 partkeys per
      // lattice site from sf0.01 up, so the driver's correctness
      // scale exercises REAL cluster structure (the r01 mapping
      // produced 0 clusters at every sf — an empty hash-match).
      // eps=5 keeps the site graph subcritical: components stay
      // bounded, so the oracle's recursive closure stays small.
      val pts = t(s, dir, "part").select(
        col("p_partkey"),
        ((col("p_partkey") * 17) % 500).as("x"),
        ((col("p_partkey") * 29) % 500).as("y"))
      Clustering.dbscan(pts, "p_partkey", "x", "y", eps = 5.0, minSamples = 2)
        .orderBy("p_partkey")
    })

  /** M2: Jenks natural-breaks binning (_objtable_methods.py:344-347).
    * Driver-side exact DP on the collected cluster-level aggregate
    * (like the reference's jenkspy call), then the class ASSIGNMENT
    * applied in-engine. Oracle via sqlGen (the m8_kmeans mechanism):
    * breaks are computed at Verify time and inlined as literals into
    * DuckDB SQL that recomputes the aggregate AND the binning
    * independently — the aggregation and assignment are hash-gated;
    * the break positions themselves are validated against a brute
    * force in JenksSpec. Class of v = number of interior breaks
    * strictly below v (pd.cut include_lowest, [[Jenks.binOf]]). */
  private val m2 = Q(
    "m2_jenks_breaks",
    None,
    (s, dir) => {
      val agg = t(s, dir, "part")
        .groupBy((col("p_partkey") % 500).as("bucket"))
        .agg(Det.davg(col("p_retailprice"), 6).as("av_price"))
      val values = agg.select("av_price").collect().map(_.getDouble(0))
      val edges = Jenks.breaks(values, 5)
      val cls = edges.slice(1, edges.length - 1)
        .map(e => when(col("av_price") > lit(e), 1L).otherwise(0L))
        .reduce(_ + _)
      agg.withColumn("class", cls)
        .withColumn("lower",
          element_at(typedLit(edges.toSeq), col("class").cast("int") + 1))
        .withColumn("upper",
          element_at(typedLit(edges.toSeq), col("class").cast("int") + 2))
        .orderBy("bucket")
    },
    sqlGen = Some { (s, dir) =>
      val agg = t(s, dir, "part")
        .groupBy((col("p_partkey") % 500).as("bucket"))
        .agg(Det.davg(col("p_retailprice"), 6).as("av_price"))
      val edges = Jenks.breaks(
        agg.select("av_price").collect().map(_.getDouble(0)), 5)
      val clsSql = edges.slice(1, edges.length - 1)
        .map(e => s"CAST(av_price > $e AS BIGINT)").mkString(" + ")
      val edgeList = edges.mkString("[", ", ", "]")
      s"""WITH a AS (SELECT p_partkey % 500 AS bucket,
              ${Det.sqlDavg("p_retailprice", 6)} AS av_price
            FROM part GROUP BY 1),
          c AS (SELECT bucket, av_price, $clsSql AS "class" FROM a)
          SELECT bucket, av_price, "class",
            $edgeList[CAST("class" AS INT) + 1] AS "lower",
            $edgeList[CAST("class" AS INT) + 2] AS "upper"
          FROM c ORDER BY bucket"""
    })

  /** M3: IQR outlier rejection composite
    * (_objtable_methods.py:265-421): A4 -> bins -> A7 -> A8 -> J10 ->
    * P11, clean side. Equal-width binning for the oracle; the Jenks
    * flavor is OutliersSpec. */
  private val m3 = Q(
    "m3_iqr_outlier_clean",
    Some(s"""WITH ca AS (SELECT l_partkey,
               ${Det.sqlDavg("l_quantity + 10 * l_tax", 6)} AS av_mag,
               ${Det.sqlDavg("l_quantity + 10 * l_tax", 6)}
                 - ${Det.sqlDavg("l_quantity + 10 * l_discount", 6)} AS mag_diff
             FROM lineitem GROUP BY l_partkey),
             mm AS (SELECT min(av_mag) AS lo, max(av_mag) AS hi FROM ca),
             b AS (SELECT ca.*, CASE WHEN av_mag >= hi THEN 9
               ELSE CAST(floor((av_mag - lo) / ((hi - lo) / 10)) AS BIGINT) END AS bin
               FROM ca, mm),
             st AS (SELECT bin, round(quantile_cont(mag_diff, 0.5), 6) AS med,
               round(quantile_cont(mag_diff, 0.75) - quantile_cont(mag_diff, 0.25), 6) AS iqr
               FROM b GROUP BY bin),
             n AS (SELECT b.l_partkey,
               abs(b.mag_diff - st.med) / st.iqr AS norm_mag_dist
               FROM b JOIN st ON b.bin = st.bin)
             SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, n.norm_mag_dist
             FROM lineitem l LEFT JOIN n ON l.l_partkey = n.l_partkey
             WHERE n.norm_mag_dist < 1.0
             ORDER BY l.l_orderkey, l.l_linenumber"""),
    (s, dir) => {
      val df = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_tax", "l_discount")
      val (clean, _) = Outliers.iqrOutlierRemoval(
        df, "l_partkey",
        col("l_quantity") + lit(10) * col("l_tax"),
        col("l_quantity") + lit(10) * col("l_discount"),
        cut = 1.0, nBins = 10)
      clean.select("l_orderkey", "l_linenumber", "l_partkey", "norm_mag_dist")
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** M6 (extension): robust MAD outliers — per-event-type median +
    * MAD; |x − med| > 3·MAD flags the heavy tail. The robust
    * companion to M3's IQR cut (MAD is immune to the outliers it
    * hunts); same exact-percentile cross-engine recipe as A7. */
  private val m6 = Q(
    "m6_mad_outliers",
    Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type),
            dev AS (SELECT e.event_id, e.event_type, e.value, med.med,
                abs(e.value - med.med) AS ad
              FROM events e JOIN med USING (event_type)),
            mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
              FROM dev GROUP BY event_type)
            SELECT d.event_id, d.event_type, d.value,
              round(d.med, 6) AS med, round(m.mad, 6) AS mad
            FROM dev d JOIN mad m USING (event_type)
            WHERE d.ad > 3 * m.mad
            ORDER BY d.event_id"""),
    (s, dir) =>
      Outliers.madOutliers(t(s, dir, "events"), Seq("event_type"),
          col("value"), k = 3.0)
        .where(col("is_outlier"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("_med"), 6).as("med"), round(col("_mad"), 6).as("mad"))
        .orderBy("event_id"))

  /** M4: errors-in-both-variables linear fit (srcdf.py:220-363
    * photometric_solution): one moment aggregate + closed-form Deming
    * solution, broadcast back as literals. */
  private val m4 = Q(
    "m4_odr_fit",
    Some(Odr.demingSql("lineitem", "l_quantity", "(l_quantity * 2) + (l_discount * 3)")),
    (s, dir) => {
      val fit = Odr.demingFit(
        t(s, dir, "lineitem"),
        col("l_quantity"),
        (col("l_quantity") * 2) + (col("l_discount") * 3))
      t(s, dir, "lineitem").limit(1).select(
        lit(fit.b0).as("b0"), lit(fit.b1).as("b1"),
        lit(fit.sb0).as("sig_b0"), lit(fit.sb1).as("sig_b1"), lit(fit.n).as("n"))
    })

  /** X-M7: fully-distributed OLS (two predictors) — one moment
    * aggregate (exact decimal sums), Cramer closed form, R² via the
    * SSE identity. Nothing detail-sized leaves the executors (the
    * scale path M4's driver-side sample fit can't take).
    *
    * Inputs are floor-quantized to short decimal grids (x2 integer,
    * y 2 decimals) so every cross-moment product terminates within
    * the Det scale — un-quantized, (integer × 5-decimal) products
    * land exactly ON scale-4 half-quanta, where Spark's exact-
    * expansion HALF_UP and DuckDB's multiply-then-round cast resolve
    * the near-tie differently (the r5 decimal-cast tie trap; ~800
    * flipped quanta in x2y observed at sf0.01). floor over identical
    * doubles cannot diverge. */
  private val m7 = Q(
    "m7_ols_fit",
    Some(Ols.olsSql("lineitem",
      "l_quantity",
      "floor(l_discount * 100 + 0.5)",
      "floor(l_extendedprice / 10.0 + 0.5) / 100.0")),
    (s, dir) => {
      val fit = Ols.olsFit2(
        t(s, dir, "lineitem"),
        col("l_quantity"),
        floor(col("l_discount") * 100 + 0.5).cast("double"),
        floor(col("l_extendedprice") / 10.0 + 0.5).cast("double") / 100.0)
      t(s, dir, "lineitem").limit(1).select(
        lit(fit.b0).as("b0"), lit(fit.b1).as("b1"), lit(fit.b2).as("b2"),
        lit(fit.r2).as("r2"), lit(fit.n).as("n"))
    })

  /** X-M12: per-GROUP OLS — one regression per supplier, fit wholly
    * inside one keyed aggregate (9-moment state per key) with the
    * Cramer closed form + R² evaluated as column expressions on the
    * aggregate rows. Output ∝ distinct suppliers; the driver-side
    * loop a pandas user would write is replaced by a single
    * map-side-combine shuffle. Inputs quantized exactly as m7 (the
    * r5 decimal-cast tie trap). */
  private val m12 = Q(
    "m12_grouped_ols",
    Some(Ols.olsGroupSql("lineitem", Seq("l_suppkey"),
      "l_quantity",
      "floor(l_discount * 100 + 0.5)",
      "floor(l_extendedprice / 10.0 + 0.5) / 100.0")),
    (s, dir) =>
      Ols.olsFitPerGroup(
        t(s, dir, "lineitem"), Seq("l_suppkey"),
        col("l_quantity"),
        floor(col("l_discount") * 100 + 0.5).cast("double"),
        floor(col("l_extendedprice") / 10.0 + 0.5).cast("double") / 100.0)
        .orderBy("l_suppkey"))

  /** X-J18: point-in-polygon containment join (ray casting /
    * even-odd rule — the classic computational-geometry theta join a
    * geospatial layer runs for region assignment). Three fixed test
    * regions over the 500×500 key-derived domain: a triangle, a
    * convex quad and a CONCAVE L (the case where bounding-box or
    * convex-only logic silently mis-assigns).
    *
    * Shape: the polygon EDGE list (13 rows) rides into the scan as a
    * typed literal array and `explode`s per point — a narrow
    * generate, NO join and NO shuffle until the final per-point
    * parity aggregate; at 100 TB the region table is dimension-sized
    * and this is exactly the broadcast-literal pattern (m8's
    * centroids, the bloom bitmap). Crossing parity per (point,
    * polygon) = even-odd containment.
    *
    * Determinism: the test ray leaves from (px, py + 0.5) — the
    * half-offset ordinate never equals an integer vertex y, so the
    * `y1 > py != y2 > py` straddle test has no boundary ambiguity;
    * the crossing-x comparison is ONE fixed-shape double expression
    * mirrored token-for-token in the oracle (engine parity is what
    * the hash gate needs; both engines see identical IEEE inputs). */
  private val j17PointInPoly = locally {
    // closed rings, integer vertices: (poly, x1, y1, x2, y2)
    val rings: Seq[(Int, Seq[(Int, Int)])] = Seq(
      0 -> Seq((50, 50), (200, 60), (120, 180)),
      1 -> Seq((250, 100), (450, 120), (430, 300), (260, 280)),
      2 -> Seq((60, 300), (220, 300), (220, 360), (140, 360), (140, 460), (60, 460)))
    val edges: Seq[(Int, Int, Int, Int, Int)] = rings.flatMap { case (pid, vs) =>
      vs.indices.map { i =>
        val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.length)
        (pid, x1, y1, x2, y2)
      }
    }
    val edgeValuesSql = edges.map { case (p, x1, y1, x2, y2) =>
      s"($p, $x1, $y1, $x2, $y2)"
    }.mkString(",\n              ")
    Q(
      "j17_point_in_poly",
      Some(s"""WITH pts AS (SELECT p_partkey,
                (p_partkey * 17) % 500 AS px,
                (p_partkey * 29) % 500 + 0.5 AS py FROM part),
              e AS (SELECT * FROM (VALUES
              $edgeValuesSql) AS t(poly, x1, y1, x2, y2)),
              cr AS (SELECT p.p_partkey, e.poly,
                  CASE WHEN (e.y1 > p.py) != (e.y2 > p.py)
                        AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1
                       THEN 1 ELSE 0 END AS c
                FROM pts p CROSS JOIN e),
              par AS (SELECT p_partkey, poly,
                  CAST(sum(c) AS BIGINT) % 2 = 1 AS inside
                FROM cr GROUP BY p_partkey, poly)
              SELECT p_partkey,
                CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_regions,
                min(CASE WHEN inside THEN poly END) AS region
              FROM par GROUP BY p_partkey ORDER BY p_partkey"""),
      (s, dir) => {
        val pts = t(s, dir, "part").select(
          col("p_partkey"),
          ((col("p_partkey") * 17) % 500).as("px"),
          ((col("p_partkey") * 29) % 500 + lit(0.5)).as("py"))
        val cr = pts
          .select(col("p_partkey"), col("px"), col("py"),
            explode(typedLit(edges)).as("e"))
          .select(col("p_partkey"), col("e._1").as("poly"),
            when((col("e._3") > col("py")) =!= (col("e._5") > col("py")) &&
                 col("px") < (col("e._4") - col("e._2")) * (col("py") - col("e._3"))
                   / (col("e._5") - col("e._3")) + col("e._2"),
              lit(1)).otherwise(lit(0)).as("c"))
        val par = cr.groupBy("p_partkey", "poly")
          .agg((sum(col("c")) % 2 === 1).as("inside"))
        par.groupBy("p_partkey")
          .agg(sum(when(col("inside"), 1L).otherwise(0L)).as("n_regions"),
            min(when(col("inside"), col("poly"))).as("region"))
          .orderBy("p_partkey")
      })
  }

  val all: Seq[Q] = Seq(j3, j3s, j4, j5, j9, j17PointInPoly, j18Knn, m1, m2, m3, m4, m6, m7, m12)
}
