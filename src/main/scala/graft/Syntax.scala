package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.QueryDialect
import graft.functions.{Coords, Photometry}
import graft.ml.Odr
import graft.operators._

/** The user-facing extension-method surface (SURVEY §1.1): the
  * reference's `srcdf` is a pandas.DataFrame subclass carrying domain
  * methods (srcdf.py:23-37, `_constructor` keeps the type through
  * ops); the Spark-idiomatic equivalent is an implicit value class
  * over DataFrame, so every operator chains:
  *
  * {{{
  * import graft.syntax._
  * df.queryDf("flags == 0 and snr > 2")
  *   .clusterSources("srcid", "ra", "dec", epsArcsec = 3, minSamples = 2)
  *   .matchToCalibrators("srcid", "ra", "dec", cal, "calid", "cra", "cdec", rDeg)
  *   .selectClusters(col("dist_deg") < 1.0)
  *   .calmag("mag", "zp", clrcoeff = Some("clrcoeff"))
  * }}}
  *
  * Only the reference's own methods live here (camelCased), each
  * citing its reference `.py` location and its operator; graft-only
  * operators have one spelling, their object's, and chain through
  * `transform`: `df.transform(Dedup.exact(_, "doc_id", "text"))`. The
  * wrapper is zero-cost (AnyVal) and never captures state.
  */
object syntax {

  implicit class SrcOps(val df: DataFrame) extends AnyVal {

    /** P1 query_df (dataset_base.py:198-230): pandas query dialect
      * with `@param` host refs. */
    def queryDf(expr: String, params: Map[String, Any] = Map.empty): DataFrame =
      QueryDialect.query(df, expr, params)

    /** P2 select_objects (dataset.py:249-261). */
    def selectObjects(expr: String, params: Map[String, Any] = Map.empty): DataFrame =
      queryDf(expr, params)

    /** J1 merge_metadata_to_sources (dataset.py:206-246). */
    def mergeMetadata(metadata: DataFrame, metadataCols: Seq[String],
                      joinOn: String = "OBSID"): DataFrame =
      Joins.mergeMetadataToSources(df, metadata, metadataCols, joinOn)

    /** M1 cluster_sources (objtable.py:116-168): label rows with
      * `clusterID`, dropping noise (purge_df semantics). */
    def clusterSources(idCol: String, xCol: String, yCol: String,
                       eps: Double, minSamples: Int): DataFrame = {
      val labels = Clustering.dbscan(
        df.select(col(idCol), col(xCol), col(yCol)), idCol, xCol, yCol, eps, minSamples)
      df.join(labels.withColumnRenamed("cluster", "clusterID"), Seq(idCol))
    }

    /** J3/J4 match_to_PS1cal (PS1Cal_matching.py:21-217): nearest
      * calibrator within the radius, null columns beyond. Spherical
      * (ra/dec degrees), HEALPix-bucketed by default. */
    def matchToCalibrators(idCol: String, raCol: String, decCol: String,
                           calib: DataFrame, calId: String,
                           calRa: String, calDec: String,
                           radiusDeg: Double): DataFrame =
      Spatial.nnJoinSphere(df, idCol, raCol, decCol,
        calib, calId, calRa, calDec, radiusDeg)

    /** J8 select_clusters (_objtable_methods.py:424-488): keep only
      * groups whose EVERY member satisfies the condition. */
    def selectClusters(cond: Column, key: String = "clusterID"): DataFrame =
      GroupOps.selectGroups(df, key, cond)._1

    /** J8 select_clusters, rejected side (_objtable_methods.py:424-488):
      * every row of each group with a violating member. */
    def rejectClusters(cond: Column, key: String = "clusterID"): DataFrame =
      GroupOps.selectGroups(df, key, cond)._2

    /** C2 calmag (srcdf.py:366-443): photometric calibration with
      * optional color term; appends `cal_mag`. */
    def calmag(magCol: String, zpCol: String,
               clrcoeff: Option[String] = None,
               color1: Option[String] = None, color2: Option[String] = None,
               out: String = "cal_mag"): DataFrame =
      df.withColumn(out, Photometry.calMag(col(magCol), col(zpCol),
        clrcoeff.map(col), color1.map(col), color2.map(col)))

    /** M4 photometric_solution (srcdf.py:220-363): Deming/ODR fit of
      * zf = y − x0 on the color, appending the reference's four
      * constant columns — params AND their sigmas (srcdf.py:350-359).
      */
    def photometricSolution(ztfFilter: String, u: Column, z: Column,
                            delta: Double = 1.0): DataFrame = {
      val fit = Odr.demingFit(df, u, z, delta)
      df.withColumn(s"fit_zp_$ztfFilter", lit(fit.b0))
        .withColumn(s"sig_fit_zp_$ztfFilter", lit(fit.sb0))
        .withColumn(s"fit_clrcoeff_$ztfFilter", lit(fit.b1))
        .withColumn(s"sig_fit_clrcoeff_$ztfFilter", lit(fit.sb1))
    }

    /** C4 compute_camera_coord (srcdf.py:446-506). */
    def computeCameraCoord(rcidCol: String = "RCID", xCol: String = "xpos",
                           yCol: String = "ypos", rotate: Boolean = false,
                           outX: String = "cam_xpos", outY: String = "cam_ypos"): DataFrame = {
      val (cx, cy) = Coords.cameraCoord(col(rcidCol), col(xCol), col(yCol), rotate = rotate)
      df.withColumn(outX, cx).withColumn(outY, cy)
    }

    /** C5 compute_ccd_coord (srcdf.py:509-575). */
    def computeCcdCoord(rcidCol: String = "RCID", xCol: String = "xpos",
                        yCol: String = "ypos", rotate: Boolean = true,
                        outX: String = "ccd_xpos", outY: String = "ccd_ypos"): DataFrame = {
      val (cx, cy) = Coords.ccdCoord(col(rcidCol), col(xCol), col(yCol), rotate)
      df.withColumn(outX, cx).withColumn(outY, cy)
    }

    /** P8 trim_edges (srcdf.py:578-613): kept side. */
    def trimEdges(xCol: String, yCol: String, trimX: Double, trimY: Double): DataFrame =
      Coords.trimEdges(df, xCol, yCol, trimX, trimY)._1

    /** P8 trim_edges, rejected side (srcdf.py:578-613 returns these). */
    def trimEdgesRejected(xCol: String, yCol: String, trimX: Double, trimY: Double): DataFrame =
      Coords.trimEdges(df, xCol, yCol, trimX, trimY)._2

    /** J9 tag_dust (srcdf.py:616-694): largest containing grain's
      * columns attached; null grain columns = clean rows. */
    def tagDust(idCol: String, xCol: String, yCol: String,
                grains: DataFrame, grainId: String, gx: String, gy: String,
                gr: String, radiusMultiplier: Double = 1.0): DataFrame =
      Spatial.thetaCircleJoin(df, idCol, xCol, yCol,
        grains, grainId, gx, gy, gr, radiusMultiplier)

    /** J6 add_IRSA_meta (srcdf.py:108-135): dedup'd side table joined
      * on the exposure key. */
    def addIrsaMeta(side: DataFrame, on: Seq[String] = Seq("EXPID"),
                    broadcastSide: Boolean = true): DataFrame =
      Joins.dedupJoin(df, side, on, broadcastSide)

    /** J7 subtract_dfs (df_utils.py:176-184). */
    def subtractDf(other: DataFrame): DataFrame =
      graft.core.Tables.subtract(df, other)

    /** M3 ps1based_outlier_rm_iqr (_objtable_methods.py:265-421):
      * clean side. */
    def outlierRmIqr(clusterKey: String, calMag: Column, refMag: Column,
                     cut: Double, nBins: Int): DataFrame =
      Outliers.iqrOutlierRemoval(df, clusterKey, calMag, refMag, cut, nBins)._1

    /** M5 reindex_sources (srcdf.py:137-156): consecutive 0-based ids
      * via the scale-safe range-exchange form (operators/Reindex) —
      * never a single-partition global window. */
    def reindexSources(idCol: String, orderBy: Seq[String]): DataFrame =
      graft.operators.Reindex.consecutiveIds(df, idCol, orderBy.map(col),
        base = 0L)
  }
}
