package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Det.{davg, dstd}
import graft.functions.Photometry.absMilliMag

/** Group-wise relational operators from the reference's objtable layer. */
object GroupOps {

  /** Per-group z-score normalization — the feature-prep standard
    * scaler: (x − mean) / std within each group, ddof = 1. Group
    * means/stds come from one decimal-exact aggregate (order-stable,
    * see [[graft.core.Det]]) that is dimension-sized and broadcast
    * back; the detail rows never shuffle. A zero-std group yields
    * null (try_divide), matching SQL x/0 semantics both engines. */
  def groupZscore(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                  valCol: Column): org.apache.spark.sql.DataFrame = {
    val keys = keyCols.map(col)
    val stats = df.groupBy(keys: _*).agg(
      davg(valCol, 6).as("_mean"),
      dstd(valCol, 6).as("_std"))
    df.join(broadcast(stats), keyCols)
      .withColumn("zscore", try_divide(valCol - col("_mean"), col("_std")))
  }

  /** A2: cluster centroid (objtable.py:171-198), plus the weighted
    * variant the reference declares but leaves NotImplemented
    * (objtable.py:195-196): sum(x/e²)/sum(1/e²).
    *
    * The plain double mean is partial-summation-order dependent in
    * the last ulps; a pipeline whose downstream COMPARISONS consume
    * the centroid doubles needs a deterministic mean instead —
    * integer/long sums when the coordinates are grid-exact (EP2's
    * milli-unit positions, Pipeline.scala) or [[graft.core.Det]]
    * decimals otherwise.
    */
  def centroids(df: DataFrame, key: String, x: String, y: String,
                weightErr: Option[String] = None): DataFrame =
    weightErr match {
      case None =>
        df.groupBy(col(key)).agg(avg(x).as(s"${x}_centroid"), avg(y).as(s"${y}_centroid"))
      case Some(e) =>
        val w = lit(1.0) / (col(e) * col(e))
        df.groupBy(col(key)).agg(
          (sum(col(x) * w) / sum(w)).as(s"${x}_centroid"),
          (sum(col(y) * w) / sum(w)).as(s"${y}_centroid"))
    }

  /** J8: select_clusters (_objtable_methods.py:424-488): drop *all*
    * rows of every group that has at least one member violating
    * `cond`. Returns (kept, rejected). Implemented as anti/semi joins
    * against the distinct violating group ids — the bad-id side is
    * small (aggregated), so Catalyst broadcasts it.
    */
  def selectGroups(df: DataFrame, key: String, cond: Column): (DataFrame, DataFrame) = {
    val bad = df.where(!cond || cond.isNull).select(key).distinct()
    (df.join(bad, Seq(key), "left_anti"), df.join(bad, Seq(key), "left_semi"))
  }

  /** J10-style agg-then-join-back: compute per-group aggregates and
    * attach them to every member row (_objtable_methods.py:360-363).
    */
  def aggJoinBack(df: DataFrame, key: String, aggs: Seq[Column]): DataFrame =
    df.join(df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*), Seq(key), "left")

  /** A6: exposure-quality table (_objtable_methods.py:190-262
    * calculate_quality) over the millimag |Δ| of the calibrated and
    * reference magnitudes ([[graft.functions.Photometry.absMilliMag]]).
    * The reference loops over RCIDs inside a 4-key groupby apply; here
    * RCID is simply a fifth grouping key and the whole thing is one
    * hash aggregate. Pure (no self-mutation — SURVEY §2.12). bias and
    * spread are [[graft.core.Det]]-exact at scale 6 and the median an
    * exact percentile rounded to 6, so results do not depend on the
    * summation order (percentile_approx is the 100 TB path).
    */
  def qualityTable(df: DataFrame, groupKeys: Seq[String], rcidCol: String,
                   calMag: Column, refMag: Column): DataFrame = {
    val keys = (groupKeys :+ rcidCol).map(col)
    df.select(keys :+ absMilliMag(calMag, refMag).as("mmd"): _*)
      .groupBy(keys: _*)
      .agg(
        davg(col("mmd"), 6).as("bias"),
        dstd(col("mmd"), 6).as("spread"),
        round(percentile(col("mmd"), lit(0.5)), 6).as("median"),
        count(lit(1)).as("nstars"))
  }

  /** The first `k` rows per `keys` group under `order`, numbered 1..k
    * in the long column `rank_in_group` — the one "best k per key"
    * tail. One window pass; the constant bound plans a WindowGroupLimit.
    * Precondition: `order` is total within every group (a score, then
    * a unique id) — rows tied on all of it survive in arrival order,
    * which changes from run to run. */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column],
                   k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rk", row_number().over(w).cast(LongType))
      .where(col("_rk") <= k)
      .withColumnRenamed("_rk", "rank_in_group")
  }

  /** P11: threshold split with pandas NaN semantics
    * (_objtable_methods.py:365-367): `query('x < cut')` drops
    * null/NaN rows, `query('not (x < cut)')` KEEPS them. Returns
    * (clean, outliers).
    */
  def thresholdSplit(df: DataFrame, c: Column, cut: Double): (DataFrame, DataFrame) =
    (df.where(c < cut), df.where(!(c < cut) || c.isNull || c.isNaN))
}
