package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Buffer for the decimal-exact group_stats builtin: exact decimal
  * sums (elements quantized at `Scale`, mirroring
  * `CAST(x AS DECIMAL(30,6))` — see [[graft.core.Det]]) make the
  * final mean/std bit-deterministic across partition orders AND
  * engines, so the generic path is DuckDB-oracle-checkable. */
case class StatsBuf(n: Long, mn: Double, mx: Double,
                    s: BigDecimal, s2: BigDecimal)

/** §2.11: the reference's generic per-group UDAF surface
  * (df_utils.py:191-231 `cluster_op`): apply a user function to one
  * column of each group; the returned dict is unstacked into columns.
  *
  * Spark-first re-expression: the user function is an
  * [[Aggregator]] (zero/reduce/merge/finish) returning a
  * Map[String,Double] — merge-ability is what lets Catalyst run it as
  * a partial+final hash aggregate (map-side combine, one shuffle of
  * buffers) instead of pandas' whole-group apply. String names
  * resolve from [[builtins]], mirroring the reference's
  * getattr-on-df_utils lookup; [[register]] exposes an aggregator to
  * SQL. For genuinely non-decomposable functions
  * [[groupApplyExact]] ships each group's values to one task (the
  * same per-group-fits-in-memory assumption pandas makes) while
  * staying distributed across groups.
  */
object GroupApply {

  /** Build a Map-returning Aggregator from user monoid ops. */
  def aggregator[B](z: B, r: (B, Double) => B, m: (B, B) => B,
                    f: B => Map[String, Double])
                   (implicit benc: Encoder[B]): Aggregator[Double, B, Map[String, Double]] =
    new Aggregator[Double, B, Map[String, Double]] {
      def zero: B = z
      def reduce(b: B, a: Double): B = r(b, a)
      def merge(a: B, b: B): B = m(a, b)
      def finish(b: B): Map[String, Double] = f(b)
      def bufferEncoder: Encoder[B] = benc
      def outputEncoder: Encoder[Map[String, Double]] = ExpressionEncoder()
    }

  private val Scale = 6

  private def dec(x: Double): BigDecimal =
    BigDecimal(x).setScale(Scale, BigDecimal.RoundingMode.HALF_UP)

  /** group_stats (df_utils.py:241-251) through the generic surface:
    * {min,max,count,mean,std}, ddof=1 std, decimal-exact sums. */
  val groupStatsAgg: Aggregator[Double, StatsBuf, Map[String, Double]] = {
    implicit val enc: Encoder[StatsBuf] = ExpressionEncoder()
    aggregator[StatsBuf](
      StatsBuf(0L, Double.PositiveInfinity, Double.NegativeInfinity,
        BigDecimal(0), BigDecimal(0)),
      (b, x) => StatsBuf(b.n + 1, math.min(b.mn, x), math.max(b.mx, x),
        b.s + dec(x), b.s2 + dec(x * x)),
      (a, b) => StatsBuf(a.n + b.n, math.min(a.mn, b.mn), math.max(a.mx, b.mx),
        a.s + b.s, a.s2 + b.s2),
      b => {
        val n = b.n.toDouble
        val s1 = b.s.toDouble
        val s2 = b.s2.toDouble
        Map(
          "min" -> b.mn, "max" -> b.mx, "count" -> n,
          "mean" -> s1 / n,
          "std" -> (if (b.n > 1)
            math.sqrt(math.max(0.0, (s2 - s1 * s1 / n) / (n - 1.0)))
          else Double.NaN))
      })
  }

  /** Named builtins, resolved like the reference's string lookup. */
  val builtins: Map[String, (Aggregator[Double, _, Map[String, Double]], Seq[String])] =
    Map("group_stats" -> (groupStatsAgg, Seq("min", "max", "count", "mean", "std")))

  /** cluster_op: groupBy + apply + unstack. `fields` lists the map
    * keys to expand into columns (pandas' unstack discovers them from
    * the dict; a Spark schema must be static). */
  def clusterOp(df: DataFrame, key: String, valueCol: String,
                agg: Aggregator[Double, _, Map[String, Double]],
                fields: Seq[String]): DataFrame = {
    val fn = udaf(agg, Encoders.scalaDouble)
    df.groupBy(col(key))
      .agg(fn(col(valueCol).cast("double")).as("_op"))
      .select(col(key) +: fields.map(f => element_at(col("_op"), f).as(f)): _*)
  }

  /** String-name flavor (df_utils.py:221-227). */
  def clusterOp(df: DataFrame, key: String, valueCol: String,
                functionName: String): DataFrame = {
    val (agg, fields) = builtins.getOrElse(functionName,
      throw new IllegalArgumentException(
        s"unknown function '$functionName'; builtins: ${builtins.keys.mkString(", ")}"))
    clusterOp(df, key, valueCol, agg, fields)
  }

  /** Registration hook: expose an aggregator to Spark SQL as `name`,
    * e.g. SELECT k, name(v)['mean'] FROM t GROUP BY k. */
  def register(spark: SparkSession, name: String,
               agg: Aggregator[Double, _, Map[String, Double]]): Unit =
    spark.udf.register(name, udaf(agg, Encoders.scalaDouble))

  /** Arbitrary whole-group function (the full pandas `apply`
    * semantics, for non-decomposable ops): each group's values are
    * gathered to one task, `fn` runs once per group. Distributed
    * across groups; each group must fit in one task's memory —
    * exactly pandas' own constraint. */
  def groupApplyExact(df: DataFrame, key: String, valueCol: String,
                      fn: Seq[Double] => Map[String, Double],
                      fields: Seq[String]): DataFrame = {
    val u = udf((xs: Seq[Double]) => fn(xs))
    df.groupBy(col(key))
      .agg(collect_list(col(valueCol).cast("double")).as("_vals"))
      .select(col(key), u(col("_vals")).as("_op"))
      .select(col(key) +: fields.map(f => element_at(col("_op"), f).as(f)): _*)
  }
}
