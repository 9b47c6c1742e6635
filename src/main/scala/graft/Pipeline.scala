package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDialect, Tables}
import graft.operators.{Clustering, GroupOps, Joins, Outliers, Spatial}

/** EP2 — the reference's flagship notebook pipeline
  * (notebooks/dataslicer_example.ipynb cells 2-10, SURVEY §3), on the
  * TPC-H-shaped testdata — ALL stages, including the notebook tail:
  *
  *   load + metadata join (J1) -> preselect (P1/P2) -> cluster
  *   detections (A2 + M1) -> match clusters to the calibrator catalog
  *   (J5 = A2+J3+J2) -> select well-matched clusters (J8) ->
  *   calibrate (C2) -> IQR outlier rejection (M3) ->
  *   band-wise reference magnitude (C3, _objtable_methods.py:158-188)
  *   -> second cluster selection on |cal - ref_band| (J8,
  *   _objtable_methods.py:424-488) -> IRSA-style dedup'd metadata
  *   join (J6, srcdf.py:108-135 / metadata.py:81-84) -> CSV dump
  *   (S10, notebook cell 10).
  *
  * One lazy DataFrame lineage end-to-end; the only materialization
  * barriers are the DBSCAN (one bounded collect of the centroids when
  * they are dimension-sized, else the ε-graph's connected-components
  * cut), the (tiny) metadata/aggregate collects, and the final sink —
  * the barriers SURVEY §3 predicts. Detections are lineitem rows; "stars"
  * are partkeys; "calibrators" are suppliers on a synthetic plane;
  * "filter bands" are order statuses.
  */
object Pipeline {
  /** Eager barrier: localCheckpoint.
    * CP-OK: eager-barrier semantics are the point (stage timing +
    * shared-tail materialization); every ep2 call site feeds it a
    * reduced (filtered/aggregated) frame, never the raw fact scan. */
  private def cp(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Named intermediate frames, in pipeline order, so PipelineSpec can
    * assert per-stage row-count waypoints. The last frame is the
    * flagship result. */
  def stages(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    // EP1: sources + per-exposure metadata (broadcast join on OBSID)
    val sources = Tables.load(spark, dir, "lineitem")
    val meta = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("OBSID"), col("o_orderdate"), col("o_orderstatus"))
    val loaded = Joins.mergeMetadataToSources(
      sources.withColumn("OBSID", col("l_orderkey")),
      meta, Seq("o_orderdate", "o_orderstatus"), "OBSID")

    // P1/P2: preselection in the pandas query dialect
    val selected = QueryDialect.query(loaded,
      "l_quantity > 2 and l_returnflag in @flags", Map("flags" -> Seq("A", "N", "R")))

    // detections carry per-star sky positions with per-detection jitter
    // materialized: every downstream stage (centroids, merge-back,
    // group selection, outlier stats) re-scans this frame — projected
    // down to the columns the pipeline actually uses first
    // star positions from Murmur3 (Spark's hash()) — NOT a linear
    // congruential map. (pk*k) % 2000 collapses partkeys into
    // mod-2000 classes (stars stack on identical points);
    // (pk*bigC) % 4e6 puts them on LCG hyperplane lines (chains of
    // eps-close stars). Either degeneracy fuses stars into clusters
    // an all-members cut always rejects. Proper avalanche mixing
    // gives a uniform synthetic sky at every scale factor.
    // positions are carried as INTEGER milli-units (xi = 1000·x): the
    // jitter steps are exact multiples of 0.01, so xi = hash-part +
    // 10·jitter-index is a long and the per-star mean position can be
    // a plain long sum — deterministic run-to-run and engine-to-engine
    // with zero decimal/BigDecimal cost (see the centroid note below).
    val withCoordsPre = selected
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_discount", "l_extendedprice", "o_orderstatus")
      .withColumn("xi", pmod(hash(col("l_partkey")), lit(2000000)).cast("long")
        + (col("l_linenumber") % 3) * 10)
      .withColumn("yi", pmod(hash(col("l_partkey"), lit(7)), lit(2000000)).cast("long")
        + (col("l_suppkey") % 3) * 10)
    val withCoords = cp(withCoordsPre)

    // A2: per-star centroids, then M1: DBSCAN them into sky clusters.
    // eps adapts to star density: the synthetic sky keeps a fixed
    // 2000x2000 area while the star count grows with sf. A fixed eps
    // (or any eps with mean ε-ball degree near 1) sits at random-
    // geometric-graph percolation and chains stars into giant
    // clusters that an all-members cut always rejects. Picking eps
    // from a target mean degree well below critical
    // (π·eps²·n/area = 0.2) keeps clusters at mostly-singletons-
    // some-pairs at EVERY scale factor — the regime the reference's
    // 3-arcsec choice encodes for real star densities.
    // A2 centroid semantics (mean member position) on the integer
    // milli-unit coordinates: sum(xi) is an exact long (< 2^53, so
    // the final double cast is exact too), then two IEEE divisions —
    // bit-deterministic across runs AND engines (the DBSCAN ε-graph
    // and match-radius cuts compare these doubles; PipelineOracle
    // mirrors the op order exactly). A plain double mean is partial-
    // summation-order dependent; a decimal mean is deterministic but
    // ~50× the per-row cost (measured: +1 s on this stage at sf0.1).
    val centroids = cp(withCoords
      .groupBy(col("l_partkey"))
      .agg(
        ((sum("xi").cast("double") / count(lit(1))) / 1000.0).as("x_centroid"),
        ((sum("yi").cast("double") / count(lit(1))) / 1000.0).as("y_centroid")))
    val nStars = centroids.count()
    val skyArea = 2000.0 * 2000.0
    val eps = math.sqrt(0.2 * skyArea / (math.Pi * math.max(nStars, 1L).toDouble))
    val clustered = Clustering.dbscan(
      centroids.select(col("l_partkey"), col("x_centroid"), col("y_centroid")),
      "l_partkey", "x_centroid", "y_centroid", eps = eps, minSamples = 1)

    // J5: match cluster centroids to the calibrator catalog (J3 NN
    // join). The match radius adapts to calibrator density the same
    // way eps does: r = sqrt(1.5·area/(π·nCalib)) keeps the covered
    // sky fraction (1 − e^-1.5 ≈ 78%) constant as the supplier count
    // scales 10 → 2000 across sf — a fixed radius either matches
    // nothing at low density or everything at high density.
    // no checkpoint: the calibrator side is dimension-sized (one
    // small parquet) and only the NN join scans it; its row count is
    // the projection's, read from the footers (no job)
    val calib = Tables.load(spark, dir, "supplier").select(
      col("s_suppkey"),
      pmod(hash(col("s_suppkey"), lit(3)), lit(2000000)).cast("double")./(1000.0).as("sx"),
      pmod(hash(col("s_suppkey"), lit(5)), lit(2000000)).cast("double")./(1000.0).as("sy"),
      (col("s_acctbal") / 1000).as("zp_ref"))
    val nCalib = Tables.parquetRowCount(spark, dir, "supplier")
    val rMatch = math.sqrt(1.5 * skyArea / (math.Pi * math.max(nCalib, 1L).toDouble))
    val withCluster = centroids.join(clustered, Seq("l_partkey"))
    val matched = cp(Spatial.nnJoinWithin(
      withCluster, "l_partkey", "x_centroid", "y_centroid",
      calib, "s_suppkey", "sx", "sy", radius = rMatch))

    // J2-style merge-back onto every detection
    val merged = withCoords.join(
      matched.select(col("l_partkey"), col("cluster"), col("s_suppkey"),
        col("zp_ref"), col("dist2").as("dist2cal")),
      Seq("l_partkey"), "left")

    // J8: keep only clusters whose every member matched within radius.
    // The kept -> clean -> result stretch is not materialized here
    // (flagship checkpoints `result` only on its dump path, which has
    // two consumers): every upstream frame the tail re-scans is
    // already checkpointed (withCoords, matched, ca inside M3), the
    // re-scanned tail segments are cheap row-wise
    // passes + broadcast joins over those checkpoints (cheap again
    // now that the tail's means are long sums, not decimals), and AQE
    // reuses identical shuffle exchanges within the single action —
    // the r4 bench regression was exactly these two extra barriers
    // (VERDICT r04 #1).
    val (kept, _) = GroupOps.selectGroups(merged, "cluster",
      col("dist2cal") <= rMatch * rMatch)

    // C2: calibrated magnitude against the matched calibrator.
    // Every term's decimal expansion terminates within 8 digits
    // (quantity int, zp 5, discount 2, price/10000 6, quantity/8 3 →
    // products ≤ 8), so M3's scale-8 means quantize EXACTLY (and can
    // therefore be long sums — Det.davgLong) — a /7 color term has an
    // infinite expansion and lands on exact half-quantum ties where
    // the engines' double→decimal/int casts disagree (found by the
    // end-to-end oracle, 49/1332 clusters).
    val calibrated = kept.withColumn("cal_mag",
      graft.functions.Photometry.calMag(
        col("l_quantity"), col("zp_ref"),
        Some(col("l_discount")),
        Some(col("l_extendedprice") / 10000), Some(col("l_quantity") / 8)))

    // M3: per-cluster IQR outlier rejection on cal vs reference (its
    // cluster-level aggregate checkpoints internally — the expensive
    // decimal-sum shuffle runs once; the rest of the lineage stays
    // lazy until `result`).
    // longMeans: cal_mag / ref terminate within 8 decimals (see the
    // cal_mag note), so the per-cluster means are codegen'd long sums
    val (clean, _) = Outliers.iqrOutlierRemoval(
      calibrated, "cluster",
      col("cal_mag"), col("l_quantity") + col("zp_ref"),
      cut = 3.0, nBins = 8, detScale = 8, longMeans = true)

    // C3 (notebook tail): band-wise reference magnitude — pick the
    // band's reference column by filter id, band = order status here
    // (_objtable_methods.py:183-185's per-band .loc assignment becomes
    // one chained conditional column)
    val bandRef = clean.withColumn("ref_mag_band",
      (col("l_quantity") + col("zp_ref")) +
        when(col("o_orderstatus") === "O", 0.0)
          .when(col("o_orderstatus") === "F", 0.1)
          .otherwise(0.2))

    // J8 #2 (notebook tail): drop every cluster with any member whose
    // calibrated magnitude strays from its band reference
    val (wellCal, _) = GroupOps.selectGroups(bandRef, "cluster",
      abs(col("cal_mag") - col("ref_mag_band")) < 0.5)

    // J6 (notebook tail): IRSA-style remote per-exposure metadata,
    // dedup'd then inner-joined on the exposure key
    val irsa = Tables.load(spark, dir, "orders").select(
      col("o_orderkey").as("OBSID"), col("o_custkey"), col("o_orderpriority"))
    val withIrsa = Joins.dedupJoin(
      wellCal.withColumn("OBSID", col("l_orderkey")), irsa, Seq("OBSID"),
      broadcastSide = false) // per-exposure side is fact-sized here

    val result = withIrsa.select(
      "l_orderkey", "l_linenumber", "l_partkey", "cluster", "s_suppkey",
      "cal_mag", "ref_mag_band", "norm_mag_dist", "o_orderstatus",
      "o_custkey", "o_orderpriority")

    Seq(
      "loaded" -> loaded, "selected" -> selected, "withCoords" -> withCoords,
      "clustered" -> clustered, "matched" -> matched, "merged" -> merged,
      "kept" -> kept, "clean" -> clean, "bandRef" -> bandRef,
      "wellCal" -> wellCal, "result" -> result)
  }

  /** EP4 — the LLM-training-data curation flagship (builder-prompt
    * first-class surface), end-to-end on `documents`:
    *
    *   quality scoring (tx_quality) -> quality cut -> exact dedup
    *   keep-min-id (dd_exact) -> MinHash-LSH near-dup groups, keep
    *   canonical only (dd_dup_groups) -> deterministic train/val/test
    *   split (tx_hash_split) -> per-(split, lang) corpus report.
    *
    * Every stage is an already-oracled operator; the composite is
    * oracle-checked end-to-end as `ep4_corpus_curation`. Scale shape:
    * two content-hash aggregates, one banded self-join, one CC pass
    * (adaptive), one report aggregate — no all-pairs anywhere. */
  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Text}
    // spread BEFORE the quality kernel + persist (the ep9 r14 recipe,
    // applied here r15): the gated frame feeds five downstream scans
    // (exact-dedup agg, its semi join, the LSH band/verify sides, the
    // final report), and unpersisted each scan re-ran the compiled
    // quality expression inside the SINGLE-TASK parquet scan stage
    // (measured: ~8 serial 0.2-0.45 s Exchange<-Filter<-Scan stages
    // per warm ep4 run). The kernel is a projection, so it stays
    // ABOVE the repartition exchange (filters push through
    // RepartitionByExpression; projections don't) and evaluates once,
    // 32-wide, into the cache. Corpus-sized, recomputable.
    val base = Tables.spread(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang")), col("doc_id"))
      .withColumn("quality", Text.qualityScore(col("text")))
      .where(col("quality") > 0.35)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep1 = Dedup.exact(base, "doc_id", "text")
      .select(col("kept_id").as("doc_id"))
    val kept1 = base.join(keep1, Seq("doc_id"), "left_semi")
    val groups = Dedup.duplicateGroups(kept1, "doc_id", "text",
      threshold = 0.25, shingleSize = 5, numHashes = 8, bandSize = 4,
      poly = true)
    val kept2 = kept1.join(
      groups.where(col("is_dup") === false).select("doc_id"),
      Seq("doc_id"), "left_semi")
    kept2.withColumn("split", Text.hashSplit(col("doc_id")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
        round(graft.core.Det.davg(col("quality"), 8), 6).as("mean_quality"))
      .orderBy("split", "lang")
  }

  /** EP7 — continuous crawl-batch ingestion flagship: the
    * INCREMENTAL twin of [[corpusCuration]] (EP4 curates a corpus at
    * rest; production pipelines ingest batches against an EXISTING
    * corpus forever). A deterministic bucket splits `documents` into
    * the already-ingested corpus and the arriving batch; the batch
    * runs quality gate → incremental near-dedup against the corpus
    * ([[graft.operators.Dedup.incrementalNearDups]] — band-bucket
    * equi-join, candidates ∝ collisions, never batch × corpus) →
    * per-language admission report (n_batch, n_quality_fail,
    * n_neardup, n_admitted). Every stage reuses an already-oracled
    * operator; the composite is oracle-checked end-to-end as
    * `ep7_incremental_ingest`.
    *
    * Scale shape: quality is scan-stage column math on the batch
    * side only; the dedup index join shuffles band keys (fixed width
    * per doc), not text-crossed-with-text; the report is a
    * lang-cardinality aggregate. In production the corpus side's
    * band keys are a maintained snapshot table (X-S21) — here both
    * sides run the same compiled kernel. */
  def incrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Text}
    // spread + persist (the ep4/ep9 recipe): corpus/batch splits and
    // the quality gate re-scan this frame 4+ times; cached 32-wide it
    // is read once from parquet and the bucket/quality kernels run at
    // full width instead of per-scan in the single-task scan stage
    val d = graft.core.Tables.spread(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang")), col("doc_id"))
      .withColumn("_bucket", Text.sampleBucket(col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = d.where(col("_bucket") >= 100).drop("_bucket")
    val batch = d.where(col("_bucket") < 100).drop("_bucket")
    val pass = batch.where(Text.qualityScore(col("text")) > 0.35)
    val dups = Dedup.incrementalNearDups(corpus, pass, "doc_id", "text",
        threshold = 0.25, numHashes = 8, bandSize = 4, poly = true)
      .select(col("doc_id"))
    val flagged = pass.join(dups, Seq("doc_id"), "left_semi")
    val admitted = pass.join(dups, Seq("doc_id"), "left_anti")
    def cnt(df: DataFrame, as: String) =
      df.groupBy(col("lang")).agg(count(lit(1)).as(as))
    cnt(batch, "n_batch")
      .join(cnt(pass, "n_quality_pass"), Seq("lang"), "left")
      .join(cnt(flagged, "n_neardup_raw"), Seq("lang"), "left")
      .join(cnt(admitted, "n_admitted_raw"), Seq("lang"), "left")
      .select(col("lang"), col("n_batch"),
        (col("n_batch") - coalesce(col("n_quality_pass"), lit(0L)))
          .as("n_quality_fail"),
        coalesce(col("n_neardup_raw"), lit(0L)).as("n_neardup"),
        coalesce(col("n_admitted_raw"), lit(0L)).as("n_admitted"))
      .orderBy("lang")
  }

  /** The full notebook pipeline; with `dump = true` it also runs the
    * S10 CSV sink (notebook cell 10: a gzip CSV of the final frame).
    * The dump is a SIDE EFFECT — bench and verify time/check the
    * returned frame only, so they run `dump = false` (the r05 bench
    * paid the single-task gzip write 3× per measurement — VERDICT
    * #5); notebook parity is exercised once in [[SparkEntry.entry]].
    *
    * The dump defaults to the SHARDED contract — part-parallel gzip
    * CSV plus a JSON sidecar naming every part and the row count
    * ([[graft.sources.Reports.dumpSharded]]) — because the final
    * frame is fact-sized (one row per calibrated detection) and a
    * one-task writer is the plan's only non-scaling stage at 100 TB.
    * `singleFile = true` restores the notebook's exact one-file
    * `to_csv` contract (dataset_base.py:98-136) for small runs. */
  def flagship(spark: SparkSession, dir: String, dump: Boolean = false,
               singleFile: Boolean = false,
               dumpDir: Option[String] = None): DataFrame = {
    if (!dump) return stages(spark, dir).last._2
    // materialize the final frame once: both consumers (the CSV dump
    // here and whatever action the caller runs next) would otherwise
    // recompute the two group-selection joins of the tail
    val result = cp(stages(spark, dir).last._2)
    // dump target overridable per caller so concurrent callers
    // (parallel test suites) isolate their sinks; default notebook path
    val out = dumpDir.getOrElse(new java.io.File(
      sys.props("java.io.tmpdir"), "graft_ep2_result").getAbsolutePath)
    if (singleFile) {
      // repartition(1), NOT coalesce(1): coalesce would collapse the
      // whole tail (two group-selection joins + metadata join) into a
      // single task; repartition keeps them parallel and only the
      // final gzip write runs single-task (one output file)
      result.repartition(1).write.mode("overwrite")
        .option("compression", "gzip").option("header", "true").csv(out)
    } else {
      graft.sources.Reports.dumpSharded(
        result, out, "result", provenance = "ep2_flagship")
    }
    result
  }
}
