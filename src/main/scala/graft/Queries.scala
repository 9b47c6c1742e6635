package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDialect, Tables}

/** Registry of oracle-checked queries.
  *
  * Each entry exercises one operator from SURVEY.md §2 through the
  * library API and (when SQL-expressible) carries an equivalent DuckDB
  * SQL oracle. Conventions for driver hash-parity:
  *   - aliases match between Spark and SQL on every computed column;
  *   - every query has a deterministic ORDER BY on a unique key set;
  *   - order-dependent float aggregates go through [[Det]] helpers so
  *     both engines produce bit-identical doubles (decimal-exact sums,
  *     IEEE-deterministic scalar math afterwards).
  */
case class Q(name: String, sql: Option[String], fn: (SparkSession, String) => DataFrame,
             // Some operators' oracle SQL depends on data-derived but
             // deterministic parameters (e.g. IVF centroids trained on the
             // verify dataset). sqlGen produces the SQL at Verify time for
             // the concrete sfDir; Verify merges it into oracle_sql.json.
             sqlGen: Option[(SparkSession, String) => String] = None)

object Queries {
  import graft.core.Det._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- scans

  /** S2: scan with projection + predicate pushdown (df_utils.py:11-74
    * fits_to_df). Catalyst pushes both into the parquet reader. */
  private val s2ScanPushdown = Q(
    "s2_scan_pushdown",
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"))

  // ----------------------------------------------------------- aggregates

  /** A3: per-group basic stats {min,max,count,mean,std}
    * (df_utils.py:241-251 group_stats; pandas std is sample std). */
  private val a3GroupStats = Q(
    "a3_group_stats",
    Some(s"""SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             min(l_quantity) AS min_qty,
             max(l_quantity) AS max_qty,
             count(*) AS count_rows,
             ${sqlDavg("l_quantity")} AS mean_qty,
             ${sqlDstd("l_quantity")} AS std_qty,
             ${sqlDsum("l_extendedprice")} AS sum_price
             FROM lineitem GROUP BY l_returnflag, l_linestatus
             ORDER BY l_returnflag, l_linestatus"""),
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("count_rows"),
          davg(col("l_quantity")).as("mean_qty"),
          dstd(col("l_quantity")).as("std_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus"))

  // ---------------------------------------------------------------- joins

  /** J1: sources ⋈ metadata broadcast inner equi-join
    * (dataset.py:206-246 merge_metadata_to_sources). */
  private val j1BroadcastJoin = Q(
    "j1_meta_join",
    Some(s"""SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
             FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             WHERE c.c_mktsegment = 'BUILDING'
             ORDER BY o.o_orderkey"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"), o("o_totalprice"), c("c_name"), c("c_mktsegment"))
        .orderBy("o_orderkey")
    })

  // -------------------------------------------------------------- filters

  /** P1: expression-string filter in the pandas query dialect
    * (dataset_base.py:198-230 query_df), incl. chained comparison,
    * `in @list` host refs, and `not (...)`. */
  private val p1ExprFilter = Q(
    "p1_expr_filter",
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem
            WHERE (10 < l_quantity AND l_quantity <= 20)
              AND l_returnflag IN ('A', 'R') AND NOT (l_linenumber < 3)
            ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      QueryDialect.query(
          t(s, dir, "lineitem"),
          "10 < l_quantity <= 20 and l_returnflag in @flags and not (l_linenumber < 3)",
          Map("flags" -> Seq("A", "R")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber"))

  // ------------------------------------------------------------- registry

  /** EP2: the full notebook pipeline (SURVEY §3), oracle-checked
    * END-TO-END: [[PipelineOracle]] mirrors every stage — Murmur3
    * positions as SQL, decimal-exact centroids, eps/rMatch computed
    * in SQL from the same counts, recursive-CTE DBSCAN, the m3 IQR
    * recipe, and both J8 cuts. The composition is additionally
    * specced stage-by-stage in PipelineSpec. */
  private val ep2Flagship = Q(
    "ep2_flagship",
    Some(PipelineOracle.sql),
    (s, dir) => Pipeline.flagship(s, dir))

  val all: Seq[Q] = Seq(
    s2ScanPushdown,
    a3GroupStats,
    j1BroadcastJoin,
    p1ExprFilter,
    ep2Flagship) ++ QueriesRelational.all ++ QueriesAgg.all ++
    QueriesSpatial.all ++ QueriesText.all ++ QueriesSources.all ++
    QueriesAnalytics.all ++ QueriesTemporal.all
}
