package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, QueryDialect, Tables}
import graft.functions.{Coords, Photometry}
import graft.operators.{GroupOps, Joins}

/** SURVEY §2.2/2.3/2.6/2.7/2.8 — filters, joins, sorts, set ops,
  * scalar derivations. All oracle-checked.
  */
object QueriesRelational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** P2: object preselection via expression string (dataset.py:249-261). */
  private val p2 = Q(
    "p2_preselect",
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderstatus = 'F' AND o_totalprice > 150000
            ORDER BY o_orderkey"""),
    (s, dir) =>
      QueryDialect.query(t(s, dir, "orders"), "o_orderstatus == 'F' and o_totalprice > 150000")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"))

  /** P5: wildcard column projection (df_utils.py:52-59, `*` = contains). */
  private val p5 = Q(
    "p5_wildcard_projection",
    Some("""SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
            WHERE l_quantity > 40
            ORDER BY l_orderkey, l_quantity, l_returnflag"""),
    (s, dir) => {
      val df = Tables.wildcardSelect(
        t(s, dir, "lineitem").where(col("l_quantity") > 40),
        Seq("*orderkey", "l_q*", "l_returnflag"))
      df.orderBy(df.columns.map(col).toIndexedSeq: _*)
    })

  /** P6+P7: metadata column skim before join, drop of key cols after
    * (dataset.py:231-240, PS1Cal_matching.py:124-126). */
  private val p6 = Q(
    "p6_project_drop",
    Some("""SELECT o.o_orderkey, o.o_totalprice, c.c_name
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_orderkey"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .drop("o_custkey", "c_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority")
        .select("o_orderkey", "o_totalprice", "c_name")
        .orderBy("o_orderkey")
    })

  private def partXY(df: DataFrame): DataFrame = df
    .withColumn("x", col("p_partkey") % 3072)
    .withColumn("y", (col("p_partkey") * 7) % 3080)

  private val trimSqlBase =
    """WITH t AS (SELECT p_partkey, p_partkey % 3072 AS x,
       (p_partkey * 7) % 3080 AS y FROM part)
       SELECT p_partkey, x, y FROM t WHERE"""

  /** P8: edge-trim box predicate, kept side (srcdf.py:578-613). */
  private val p8a = Q(
    "p8_trim_edges_keep",
    Some(s"""$trimSqlBase x > 100 AND x < 2972 AND y > 100 AND y < 2980
             ORDER BY p_partkey"""),
    (s, dir) =>
      Coords.trimEdges(partXY(t(s, dir, "part")), "x", "y", 100, 100)._1
        .select("p_partkey", "x", "y").orderBy("p_partkey"))

  /** P8: edge-trim rejected rows (the reference returns these). */
  private val p8b = Q(
    "p8_trim_edges_reject",
    Some(s"""$trimSqlBase NOT (x > 100 AND x < 2972 AND y > 100 AND y < 2980)
             ORDER BY p_partkey"""),
    (s, dir) =>
      Coords.trimEdges(partXY(t(s, dir, "part")), "x", "y", 100, 100)._2
        .select("p_partkey", "x", "y").orderBy("p_partkey"))

  /** P9: magnitude-bin range cut (_objtable_methods.py:231-234). */
  private val p9 = Q(
    "p9_range_cut",
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            WHERE l_extendedprice BETWEEN 17500 AND 18500
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_extendedprice").between(17500, 18500))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"))

  /** P10: nonzero-error filter (srcdf.py:276-282). */
  private val p10 = Q(
    "p10_nonzero",
    Some("""SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
            WHERE l_discount != 0
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem").where(col("l_discount") =!= 0)
        .select("l_orderkey", "l_linenumber", "l_discount")
        .orderBy("l_orderkey", "l_linenumber"))

  /** P11: threshold complement keeps nulls — pandas `not (x < c)`
    * retains NaN rows (_objtable_methods.py:365-367, SURVEY §2.2). */
  private val p11 = Q(
    "p11_threshold_complement",
    Some("""WITH t AS (SELECT l_orderkey, l_linenumber,
              CASE WHEN l_discount = 0 THEN NULL ELSE l_quantity END AS v
            FROM lineitem)
            SELECT l_orderkey, l_linenumber, v FROM t
            WHERE NOT (v < 25) OR v IS NULL
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val df = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_discount") === 0, lit(null)).otherwise(col("l_quantity")).as("v"))
      GroupOps.thresholdSplit(df, col("v"), 25)._2
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** J2: left join with `_ps1`-style suffix disambiguation
    * (_objtable_methods.py:97-99). */
  private val j2 = Q(
    "j2_suffix_left_join",
    Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
              l.l_extendedprice AS price, p.p_retailprice AS price_ps1, p.p_brand
            FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
            ORDER BY l.l_orderkey, l.l_linenumber"""),
    (s, dir) => {
      val left = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice").as("price"))
      val right = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"),
          col("p_retailprice").as("price"), col("p_brand"))
      Joins.suffixJoin(left, right, Seq("l_partkey"), "_ps1")
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** J6: dedup side table then equi-join (metadata.py:81-84). */
  private val j6 = Q(
    "j6_dedup_join",
    Some("""SELECT n.n_name, d.c_mktsegment
            FROM nation n
            JOIN (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer) d
              ON n.n_nationkey = d.c_nationkey
            ORDER BY n.n_name, d.c_mktsegment"""),
    (s, dir) => {
      val n = t(s, dir, "nation")
      val side = t(s, dir, "customer").select("c_nationkey", "c_mktsegment")
      Joins.dedupJoin(n.withColumnRenamed("n_nationkey", "c_nationkey"), side, Seq("c_nationkey"))
        .select("n_name", "c_mktsegment")
        .orderBy("n_name", "c_mktsegment")
    })

  /** J7/U2: subtract rows present in another frame
    * (df_utils.py:176-184) — anti-join on all columns. */
  private val j7 = Q(
    "j7_subtract_rows",
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem
            ANTI JOIN (SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
                       FROM lineitem WHERE l_returnflag = 'R') r
            USING (l_orderkey, l_linenumber, l_quantity, l_returnflag)
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val a = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      Tables.subtract(a, a.where(col("l_returnflag") === "R"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  private val j8SqlBad =
    "SELECT DISTINCT l_orderkey FROM lineitem WHERE NOT (l_quantity < 48) OR l_quantity IS NULL"

  /** J8: drop all rows of groups violating a condition, kept side
    * (_objtable_methods.py:424-488 select_clusters). */
  private val j8a = Q(
    "j8_select_groups_keep",
    Some(s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             WHERE l_orderkey NOT IN ($j8SqlBad)
             ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      GroupOps.selectGroups(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
          "l_orderkey", col("l_quantity") < 48)._1
        .orderBy("l_orderkey", "l_linenumber"))

  /** J8: the rejected clusters (left_semi side). */
  private val j8b = Q(
    "j8_select_groups_drop",
    Some(s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             WHERE l_orderkey IN ($j8SqlBad)
             ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      GroupOps.selectGroups(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
          "l_orderkey", col("l_quantity") < 48)._2
        .orderBy("l_orderkey", "l_linenumber"))

  /** J10: per-group aggregate joined back to member rows
    * (_objtable_methods.py:360-363). */
  private val j10 = Q(
    "j10_agg_join_back",
    Some(s"""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
               g.avg_qty, l.l_quantity - g.avg_qty AS dev
             FROM lineitem l
             LEFT JOIN (SELECT l_orderkey, ${Det.sqlDavg("l_quantity")} AS avg_qty
                        FROM lineitem GROUP BY l_orderkey) g
               ON l.l_orderkey = g.l_orderkey
             ORDER BY l.l_orderkey, l.l_linenumber"""),
    (s, dir) => {
      val df = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      GroupOps.aggJoinBack(df, "l_orderkey", Seq(Det.davg(col("l_quantity")).as("avg_qty")))
        .withColumn("dev", col("l_quantity") - col("avg_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  /** U1: UNION ALL preserving duplicates (objtable.py:110 pd.concat). */
  private val u1 = Q(
    "u1_union_all",
    Some("""SELECT * FROM (
              SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              WHERE o_totalprice > 100000
              UNION ALL
              SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              WHERE o_orderstatus = 'F')
            ORDER BY o_orderkey, o_orderstatus, o_totalprice"""),
    (s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.where(col("o_totalprice") > 100000)
        .unionByName(o.where(col("o_orderstatus") === "F"))
        .orderBy("o_orderkey", "o_orderstatus", "o_totalprice")
    })

  /** U2: EXCEPT ALL multiset difference (df_utils.py:176-184 keeps
    * df1 duplicates). */
  private val u2 = Q(
    "u2_except_all",
    Some("""SELECT l_partkey, l_quantity FROM lineitem
            EXCEPT ALL
            SELECT l_partkey, l_quantity FROM lineitem WHERE l_linenumber > 1
            ORDER BY l_partkey, l_quantity"""),
    (s, dir) => {
      val a = t(s, dir, "lineitem").select("l_partkey", "l_quantity")
      a.exceptAll(a.where(col("l_linenumber") > 1))
        .orderBy("l_partkey", "l_quantity")
    })

  /** U3: column-wise concat = key-aligned derived columns
    * (_objtable_methods.py:339-341; alignment by key, not position). */
  private val u3 = Q(
    "u3_columnwise_concat",
    Some("""SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS revenue,
              l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber"))

  /** O1: multi-key sort incl. descending (_objtable_methods.py:251-252). */
  private val o1 = Q(
    "o1_sort_multi",
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_totalprice > 250000
            ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC"""),
    (s, dir) =>
      t(s, dir, "orders").where(col("o_totalprice") > 250000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc, col("o_orderkey").asc))

  /** M5: deterministic re-index (srcdf.py:137-156 reindex_sources).
    * Exact consecutive ids WITHOUT the single-partition global window:
    * range exchange + per-partition local ranks + broadcast cumulative
    * offsets (operators/Reindex) — same ids as
    * `row_number().over(Window.orderBy(...))` at full parallelism. */
  private val m5 = Q(
    "m5_reindex",
    Some("""SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS srcid,
              l_orderkey, l_linenumber
            FROM lineitem ORDER BY srcid"""),
    (s, dir) =>
      graft.operators.Reindex.consecutiveIds(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber"),
          "srcid", Seq(col("l_orderkey"), col("l_linenumber")), base = 1L)
        .select(col("srcid"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("srcid"))

  /** C1: composite key via string concat (metadata.py:167-169):
    * int(str(a) + str(b)). */
  private val c1 = Q(
    "c1_composite_key",
    Some("""SELECT l_orderkey, l_linenumber,
              CAST(CAST(l_orderkey AS VARCHAR) || CAST(l_linenumber AS VARCHAR) AS BIGINT) AS obsid
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          Photometry.compositeKey(col("l_orderkey"), col("l_linenumber")).as("obsid"))
        .orderBy("l_orderkey", "l_linenumber"))

  /** C9: numeric downcast (df_utils.py:141-160). */
  private val c9 = Q(
    "c9_downcast",
    Some("""SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey,
              CAST(l_linenumber AS INTEGER) AS l_linenumber,
              CAST(l_quantity AS REAL) AS l_quantity
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      Tables.downcast(t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"))

  /** J13 (scale extension): salted skew join, oracle-gated. The
    * derived key puts ~80% of lineitem on one hot key — the shape
    * AQE's runtime splitting can't always rescue (a single literal
    * key); `Skew.saltedJoin` splits the hot key across `factor`
    * sub-keys and replicates the 25-row dim side. The output set is
    * salt-independent, so the oracle is the plain join. */
  private val j13 = Q(
    "j13_salted_skew_join",
    Some(s"""WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
               ELSE l_orderkey % 25 END AS k, l_extendedprice FROM lineitem),
             d AS (SELECT n_nationkey AS k, n_name FROM nation)
             SELECT f.k, d.n_name, count(*) AS n,
               ${Det.sqlDsum("f.l_extendedprice", 4)} AS price_sum
             FROM f JOIN d ON f.k = d.k
             GROUP BY f.k, d.n_name ORDER BY f.k"""),
    (s, dir) => {
      val fact = t(s, dir, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(25))).as("k"),
        col("l_extendedprice"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_name"))
      graft.operators.Skew.saltedJoin(fact, dim, Seq("k"), factor = 8)
        .groupBy("k", "n_name")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice"), 4).as("price_sum"))
        .orderBy("k")
    })

  /** J13b: the report→remedy wiring made executable —
    * [[graft.operators.Skew.autoJoin]] runs the skew report on the
    * join key as a bounded pre-flight, derives the salt factor from
    * the top-1 share (or picks the plain join when near-uniform), and
    * joins. Same hot-key shape as j13 (ratio ≫ threshold, so the
    * salted path is the one exercised here); the oracle is the PLAIN
    * join because the output is salt-decision-independent — the
    * uniform/plain-path equality is asserted in SkewSpec. */
  private val j13a = Q(
    "j13_auto_skew_join",
    Some(s"""WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
               ELSE l_orderkey % 25 END AS k, l_extendedprice FROM lineitem),
             d AS (SELECT n_nationkey AS k, n_name FROM nation)
             SELECT f.k, d.n_name, count(*) AS n,
               ${Det.sqlDsum("f.l_extendedprice", 4)} AS price_sum
             FROM f JOIN d ON f.k = d.k
             GROUP BY f.k, d.n_name ORDER BY f.k"""),
    (s, dir) => {
      val fact = t(s, dir, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(25))).as("k"),
        col("l_extendedprice"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_name"))
      val (joined, factor) =
        graft.operators.Skew.autoJoin(fact, dim, Seq("k"))
      assert(factor > 1, s"hot-key fixture must trigger salting, got $factor")
      joined.groupBy("k", "n_name")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice"), 4).as("price_sum"))
        .orderBy("k")
    })

  /** X-J14: Bloom-prefiltered semi join — the explicit runtime-filter
    * pattern: a Bloom filter over the filtered dimension's keys probes
    * INSIDE the fact scan (compiled expression, no UDF), the exact
    * left-semi join removes false positives, so the result is exactly
    * the semi join while ~80% of the fact rows die before any
    * exchange. Oracle: the plain IN-subquery semi join. */
  private val j14 = Q(
    "j14_bloom_prefilter",
    Some("""SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
            WHERE o_custkey IN
              (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
            ORDER BY o_orderkey"""),
    (s, dir) =>
      Joins.bloomSemiJoin(
          t(s, dir, "orders"),
          t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING"),
          "o_custkey", "c_custkey")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .orderBy("o_orderkey"))

  /** X-U5: INTERSECT ALL (bag semantics — min multiplicity per row),
    * completing the set-op family (U1 union all, U2 except all). The
    * reference has no INTERSECT (SURVEY §2.7); at scale this is one
    * hash aggregate per side + a count-min merge, same shuffle shape
    * as exceptAll. */
  private val u5 = Q(
    "u5_intersect_all",
    Some("""SELECT o_custkey FROM
              (SELECT o_custkey FROM orders WHERE o_totalprice > 100000
               INTERSECT ALL
               SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
            ORDER BY o_custkey"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_totalprice") > 100000).select("o_custkey")
        .intersectAll(o.where(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    })

  val all: Seq[Q] = Seq(p2, p5, p6, p8a, p8b, p9, p10, p11, j2, j6, j7,
    j8a, j8b, j10, j13, j13a, j14, u1, u2, u3, u5, o1, m5, c1, c9)
}
