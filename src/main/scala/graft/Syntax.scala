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
  * Method names mirror the reference's (camelCased); each cites its
  * operator. Anything not covered chains through the plain DataFrame
  * API — the wrapper is zero-cost (AnyVal) and never captures state.
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

    /** J8 rejected side. */
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

    /** P8 rejected side (the reference returns these). */
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

    // ---- training-data pipeline surface ----

    /** Exact dedup: one row per distinct content. */
    def dedupExact(idCol: String, textCol: String): DataFrame =
      Dedup.exact(df, idCol, textCol)

    /** MinHash-LSH near-dup pairs, Jaccard-verified. */
    def nearDupPairs(idCol: String, textCol: String, threshold: Double,
                     poly: Boolean = true): DataFrame =
      Dedup.minhashVerifiedPairs(df, idCol, textCol, threshold, poly = poly)

    /** Duplicate groups with canonical ids + is_dup flag. */
    def duplicateGroups(idCol: String, textCol: String, threshold: Double,
                        poly: Boolean = true): DataFrame =
      Dedup.duplicateGroups(df, idCol, textCol, threshold, poly = poly)

    /** Incremental near-dedup: this frame = existing corpus; flags
      * batch docs near-duplicating it. */
    def dedupAgainst(batch: DataFrame, idCol: String, textCol: String,
                     threshold: Double): DataFrame =
      Dedup.incrementalNearDups(df, batch, idCol, textCol, threshold)

    /** Bloom-prefiltered incremental exact dedup: this frame =
      * existing corpus; batch docs bit-test a broadcast bloom bitmap
      * in the scan stage and only hits pay the exact key join. */
    def bloomDedupAgainst(batch: DataFrame, idCol: String,
                          textCol: String): DataFrame =
      Dedup.bloomIncremental(df, batch, idCol, textCol)

    /** Benchmark decontamination: training docs (this frame) sharing
      * any word n-gram with the bench frame. */
    def decontaminateAgainst(bench: DataFrame, idCol: String,
                             textCol: String, n: Int = 4): DataFrame =
      Dedup.decontaminate(df, bench, idCol, textCol, n)

    /** Repetition quality signals: TTR, dup-ngram fraction, top-ngram
      * share appended as columns. */
    def withRepetitionSignals(textCol: String): DataFrame =
      df.withColumn("ttr", Text.typeTokenRatio(col(textCol)))
        .withColumn("dup_3gram_frac", Text.dupNgramFraction(col(textCol), 3))
        .withColumn("top_bigram_share", Text.topNgramShare(col(textCol), 2))

    /** PII scrub: redacted text + per-pattern counts appended. */
    def withPiiScrubbed(textCol: String, out: String = "scrubbed"): DataFrame =
      df.select((col("*") +: Text.piiCounts(col(textCol))) :+
        Text.scrubPii(col(textCol)).as(out): _*)

    /** Concat-and-chunk sequence packing into token-budget windows. */
    def packWindows(idCol: String, textCol: String, shardCol: String,
                    budget: Int): DataFrame =
      Text.packWindows(df, idCol, textCol, shardCol, budget)

    /** Balanced domain mixing to integer stratum weights. */
    def balancedMix(idCol: String, stratumCol: String,
                    weights: Seq[(String, Int)]): DataFrame =
      Text.balancedMix(df, idCol, stratumCol, weights)

    /** Temperature-flattened domain resampling (n_d^τ shares). */
    def temperatureMix(idCol: String, stratumCol: String,
                       targetFraction: Double, tau: Double = 0.5): DataFrame =
      Text.temperatureMix(df, idCol, stratumCol, targetFraction, tau)

    /** Per-shard packing-efficiency report over packWindows. */
    def packReport(idCol: String, textCol: String, shardCol: String,
                   budget: Int): DataFrame =
      Text.packReport(df, idCol, textCol, shardCol, budget)

    /** IVF-PQ approximate top-k with exact rerank of the ADC
      * shortlist (this frame = corpus = query set). */
    def ivfPqTopK(idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]],
                  nProbe: Int, k: Int, rerank: Int = 0): DataFrame =
      Vectors.ivfPqTopK(df, idCol, vecCol, centroids, codebooks, nProbe, k, rerank)

    /** One two-predictor OLS fit per group key (b0, b1, b2, r2, n). */
    def olsPerGroup(keys: Seq[String], x1: Column, x2: Column,
                    y: Column): DataFrame =
      graft.ml.Ols.olsFitPerGroup(df, keys, x1, x2, y)

    /** Robust MAD outlier flags per group. */
    def madOutliers(keys: Seq[String], valCol: Column, k: Double): DataFrame =
      Outliers.madOutliers(df, keys, valCol, k)

    /** Deterministic train/val/test assignment column. */
    def withHashSplit(idCol: String, out: String = "split"): DataFrame =
      df.withColumn(out, Text.hashSplit(col(idCol)))

    /** Stratified deterministic sampling (per-stratum per-mille rates). */
    def stratifiedSample(idCol: String, stratumCol: String,
                         ratesPerMille: Seq[(String, Int)]): DataFrame =
      Text.stratifiedSample(df, idCol, stratumCol, ratesPerMille)

    /** TF-IDF top-k terms per document. */
    def tfidfTerms(idCol: String, textCol: String, k: Int): DataFrame =
      Text.tfIdfTopK(df, idCol, textCol, k)

    /** BM25 top-k documents for a query-term bag. */
    def bm25Search(idCol: String, textCol: String, terms: Seq[String],
                   k: Int): DataFrame =
      Text.bm25TopK(df, idCol, textCol, terms, k)

    /** Top-k corpus vocabulary with document frequencies. */
    def vocabulary(idCol: String, textCol: String, k: Int): DataFrame =
      Text.vocabTopK(df, idCol, textCol, k)

    /** Unigram-frequency commonness quality score per document. */
    def commonnessScore(idCol: String, textCol: String): DataFrame =
      Text.commonnessScore(df, idCol, textCol)

    /** PMI co-occurrence pairs over the top-V corpus vocabulary. */
    def pmiCooccur(idCol: String, textCol: String, vocabSize: Int = 64,
                   minPairDocs: Long = 2): DataFrame =
      Text.pmiCooccur(df, idCol, textCol, vocabSize, minPairDocs)

    // ---- temporal surface ----

    /** As-of join: latest `right` row at-or-before each row's ts. */
    def asofJoin(right: DataFrame, key: String, ts: String,
                 payload: Seq[String], tieBreak: String): DataFrame =
      Temporal.asofJoin(df, right, key, ts, payload, tieBreak)

    /** Interval containment join against an intervals frame. */
    def rangeJoin(ptTs: String, intervals: DataFrame, startCol: String,
                  endCol: String, bucketSeconds: Long): DataFrame =
      Temporal.rangeJoin(df, ptTs, intervals, startCol, endCol, bucketSeconds)

    /** Top-k rows per group by explicit order columns. */
    def topkPerGroup(keys: Seq[String], order: Seq[Column], k: Int): DataFrame =
      Temporal.topKPerGroup(df, keys, order, k)

    /** LSH-bucket-blocked embedding near-dup pairs (no label column). */
    def embeddingNearDups(idCol: String, vecCol: String, dim: Int,
                          threshold: Double): DataFrame =
      Vectors.lshNearDupPairs(df, idCol, vecCol, dim, threshold)

    /** Semantic duplicate groups over an embedding column. */
    def semanticDupGroups(idCol: String, vecCol: String, dim: Int,
                          threshold: Double): DataFrame =
      Dedup.semanticDupGroups(df, idCol, vecCol, dim, threshold)

    /** Line/segment-level dedup rewrite (corpus-duplicated segments
      * dropped, text reassembled). */
    def segmentDedup(idCol: String, textCol: String,
                     segTokens: Int = 10, maxCount: Long = 1): DataFrame =
      Dedup.segmentDedup(df, idCol, textCol, segTokens, maxCount)

    /** Epoch-based up-sampling mix (weights may exceed 1). */
    def epochMix(idCol: String, stratumCol: String,
                 weights: Seq[(String, Double)]): DataFrame =
      Text.epochMix(df, idCol, stratumCol, weights)

    /** Semantic decontamination against a benchmark embedding frame. */
    def semanticDecontaminateAgainst(bench: DataFrame, idCol: String,
                                     vecCol: String, dim: Int,
                                     threshold: Double): DataFrame =
      Vectors.semanticDecontaminate(df, bench, idCol, vecCol, dim, threshold)

    /** Attribute-constrained (pre-filtered) ANN top-k per vector. */
    def filteredTopK(idCol: String, vecCol: String, attrCol: String,
                     dim: Int, k: Int): DataFrame =
      Vectors.lshTopKFiltered(df, idCol, vecCol, attrCol, dim, k)

    /** Group-size report over a duplicateGroups-shaped frame. */
    def dupGroupStats(): DataFrame = Dedup.dupGroupStats(df)

    /** Single-pass ANALYZE-style column profile. */
    def profileColumns(cols: Seq[String]): DataFrame =
      graft.core.Tables.profile(df, cols)

    /** Key-skew diagnostics: top-k heavy hitters + max/mean ratio. */
    def skewReport(keyCol: String, topK: Int = 10): DataFrame =
      Skew.skewReport(df, keyCol, topK)

    /** X-EV7 gap-based sessionization. */
    def sessionize(userCol: String, tsCol: String, gapSeconds: Long,
                   tieBreak: String): DataFrame =
      Temporal.sessionize(df, userCol, tsCol, gapSeconds, tieBreak)

    /** X-J15 interval-overlap join (claim-cell dedup). */
    def overlapJoin(aStart: String, aEnd: String, other: DataFrame,
                    bStart: String, bEnd: String,
                    bucketSeconds: Long): DataFrame =
      Temporal.intervalOverlapJoin(df, aStart, aEnd, other, bStart, bEnd,
        bucketSeconds)

    /** X-DD16 soft dedup: down-weight duplicates to unit group mass. */
    def softDedupWeights(idCol: String, textCol: String): DataFrame =
      Dedup.softWeights(df, idCol, textCol)

    /** X-DD17 LSH banding-config health report. */
    def lshQualityReport(idCol: String, textCol: String): DataFrame =
      Dedup.lshQualityReport(df, idCol, textCol)

    /** X-M8 distributed k-means report over an embedding column. */
    def kmeansReport(idCol: String, vecCol: String,
                     centroids: Array[Array[Double]]): DataFrame =
      Vectors.kmeansReport(df, idCol, vecCol, centroids)

    /** X-M9 PageRank over a (src, dst) edge frame. */
    def pageRank(iterations: Int, damping: Double = 0.85): DataFrame =
      Graph.pageRank(df, iterations, damping)

    /** X-M10 triangle census over a (src, dst) edge frame. */
    def triangleStats(): DataFrame = Graph.triangleStats(df)

    /** X-P15 one-pass schema-contract report. */
    def contractReport(rules: Seq[(String, Column)]): DataFrame =
      graft.core.Tables.contractReport(df, rules)

    /** X-J16 nearest-event join, both directions. */
    def nearestJoin(right: DataFrame, key: String, ts: String,
                    idCol: String): DataFrame =
      Temporal.nearestJoin(df, right, key, ts, idCol)

    /** X-S18 batch MERGE: apply a keyed change batch. */
    def upsertInto(snapshot: DataFrame, key: String,
                   deleteCol: String): DataFrame =
      Merge.upsert(snapshot, df, key, deleteCol)

    /** X-S19 SCD-2 validity intervals from a keyed change stream. */
    def scd2History(keyCol: String, tsCol: String, stateCol: String,
                    tieBreak: String): DataFrame =
      Temporal.scd2History(df, keyCol, tsCol, stateCol, tieBreak)

    /** Rolling z-score anomaly flags against each key's trailing
      * window. */
    def rollingAnomaly(keyCol: String, tsCol: String, tieCol: String,
                       valCol: String, window: Int = 8,
                       minHistory: Int = 4, k: Double = 3.0): DataFrame =
      Temporal.rollingAnomaly(df, keyCol, tsCol, tieCol, valCol,
        window, minHistory, k)

    /** X-EV10 calendar-spine daily resample with forward fill. */
    def resampleDaily(keyCol: String, tsCol: String, valueCol: String,
                      tieBreak: String): DataFrame =
      Temporal.resampleDaily(df, keyCol, tsCol, valueCol, tieBreak)

    /** S-report: persist an aggregate report frame (histogram bins,
      * column profile, skew report, …) as csv.gz + JSON sidecar —
      * the data layer of the reference's saved figures. */
    def dumpReport(dir: String, name: String,
                   provenance: String = ""): (String, String) =
      graft.sources.Reports.dump(df, dir, name, provenance)
  }
}
