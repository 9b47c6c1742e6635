package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Det
import graft.ml.Jenks

/** M3: IQR-based per-cluster outlier rejection
  * (_objtable_methods.py:265-421 ps1based_outlier_rm_iqr).
  *
  * Pipeline (all distributed, composing A4, M2/binning, A7, A8, J10,
  * P11): per-cluster mean magnitudes -> magnitude bins -> per-bin
  * median & IQR of the cluster/reference difference -> normalized
  * distance |diff − median| / IQR joined back onto every source row
  * -> threshold split. Returns (clean, outliers).
  */
object Outliers {

  /** Equal-width binning entirely in-engine (deterministic, no
    * driver collect) — the oracle-parity and 100 TB path.
    * `useJenks = true` reproduces the reference's jenkspy binning:
    * breaks computed driver-side on the collected *cluster-level*
    * aggregate (one value per cluster, small), like the reference.
    *
    * `detScale`: quantization scale of the decimal-exact means. Pick
    * it so every INPUT VALUE's decimal expansion terminates within
    * `detScale` digits — then the double→decimal cast is exact and
    * cross-engine deterministic by construction. A value with MORE
    * digits than the scale can land on an exact half-quantum tie
    * (e.g. an 8-decimal product ending in "…5" cast at scale 6),
    * where Spark (exact BigDecimal expansion, HALF_UP) and DuckDB
    * (double-rounding via x·10^scale) disagree — observed on EP2's
    * cal_mag before it moved to scale 8. */
  def iqrOutlierRemoval(df: DataFrame, clusterKey: String, calMag: Column,
                        refMag: Column, cut: Double, nBins: Int,
                        useJenks: Boolean = false, detScale: Int = 6,
                        longMeans: Boolean = false): (DataFrame, DataFrame) = {
    // Materialized: the cluster-level aggregate (one row per cluster)
    // is re-consumed by the min/max pass, the per-bin stats, the
    // normalized-distance projection AND the merge-back join — left
    // lazy, each of those recomputes the decimal-sum shuffle over the
    // full input. Cluster-level stays distributed (executor blocks),
    // never driver-side.
    // longMeans = true: inputs terminate within detScale decimals →
    // Det.davgLong (codegen'd long sums, the 100 TB shape). false:
    // exact decimal accumulator (any input magnitude profile).
    def mean(c: Column) =
      if (longMeans) Det.davgLong(c, detScale) else Det.davg(c, detScale)
    val ca = df.groupBy(col(clusterKey))
      .agg(
        mean(calMag).as("av_mag"),
        (mean(calMag) - mean(refMag)).as("mag_diff"))
      // CP-OK: one row per CLUSTER (group-cardinality aggregate, not
      // fact-sized); rescanned by 4 downstream passes. A persist
      // variant measured SLOWER (m3 1.76->2.08, ep2 7.80->8.58
      // same-window r11): the driver-side breaks collect reads this
      // frame immediately, and the checkpoint's raw row blocks serve
      // repeated scans cheaper than columnar cache decode here.
      .localCheckpoint()

    val binned =
      if (useJenks) {
        // collect one value per cluster like the reference's jenkspy
        // call — but only while the cluster count is driver-bounded;
        // past the bound, switch to the quantile-sketch discretization
        // (Jenks.breaksApprox): one aggregate, O(1k) driver memory,
        // the documented 100 TB path for this operator
        val maxCollect = 4 << 20
        val edges =
          if (ca.count() <= maxCollect)
            // BOUNDED: cluster-cardinality frame, behind the
            // driver-bound guard above
            Jenks.breaks(ca.select("av_mag").collect().map(_.getDouble(0)), nBins)
          else Jenks.breaksApprox(ca, "av_mag", nBins)
        val bin = edges.slice(1, nBins).foldLeft(lit(0)) { (acc, e) =>
          acc + when(col("av_mag") > e, 1).otherwise(0)
        }
        ca.withColumn("bin", bin.cast("long"))
      } else {
        val mm = ca.agg(min("av_mag").as("_lo"), max("av_mag").as("_hi"))
        val w = (col("_hi") - col("_lo")) / nBins
        ca.join(broadcast(mm))
          .withColumn("bin",
            when(col("av_mag") >= col("_hi"), nBins - 1)
              .otherwise(floor((col("av_mag") - col("_lo")) / w)))
          .drop("_lo", "_hi")
      }

    val stats = binned.groupBy("bin").agg(
      round(percentile(col("mag_diff"), lit(0.5)), 6).as("_med"),
      round(percentile(col("mag_diff"), lit(0.75)) -
        percentile(col("mag_diff"), lit(0.25)), 6).as("_iqr"))

    // try_divide: a zero-IQR bin yields null (numpy's inf in the
    // reference; both land on the outlier side of the cut) and
    // matches DuckDB's x/0 -> NULL under Spark's ANSI default
    val norm = binned.join(broadcast(stats), Seq("bin"))
      .select(col(clusterKey),
        try_divide(abs(col("mag_diff") - col("_med")), col("_iqr")).as("norm_mag_dist"))

    // cluster-level side scales with #clusters — no broadcast hint;
    // AQE picks broadcast when it fits
    val merged = df.join(norm, Seq(clusterKey), "left")
    GroupOps.thresholdSplit(merged, col("norm_mag_dist"), cut)
  }

  /** Robust z-score outliers: per-group median + MAD (median absolute
    * deviation); a row is an outlier iff |x − med| > k·MAD. The
    * robust companion to M3's IQR cut — immune to the outliers it
    * hunts. Two aggregate passes (median, then MAD of the
    * deviations); the per-group stat tables scale with group-key
    * cardinality — no broadcast hint, AQE picks broadcast when they
    * fit and degrades to a shuffle join when they don't (same policy
    * as [[iqrOutlierRemoval]]; a forced hint OOMs the driver on a
    * high-cardinality key at 100x scale). Exact `percentile`
    * interpolation — the same cross-engine-stable form as A7. */
  def madOutliers(df: DataFrame, keyCols: Seq[String], valCol: Column,
                  k: Double): DataFrame = {
    val keys = keyCols.map(col)
    val med = df.groupBy(keys: _*)
      .agg(percentile(valCol, lit(0.5)).as("_med"))
    val dev = df.join(med, keyCols)
      .withColumn("_ad", abs(valCol - col("_med")))
    val mad = dev.groupBy(keys: _*)
      .agg(percentile(col("_ad"), lit(0.5)).as("_mad"))
    dev.join(mad, keyCols)
      .withColumn("is_outlier", col("_ad") > lit(k) * col("_mad"))
  }
}
