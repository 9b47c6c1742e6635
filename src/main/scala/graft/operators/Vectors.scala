package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.functions.Expressions.{cellDistTo, codesConstLookupSum, codesDot, cosineSim,
  dotProduct, lshTableKeys, nearestCells, pqAdcTable}

/** Embedding similarity search over `Array[Float]` columns.
  *
  * Baseline: brute-force cosine top-k (query set broadcast against
  * the candidate corpus — one scan, no shuffle of the big side).
  * Scale path: random-hyperplane LSH bucketing so only same-bucket
  * candidates are compared (bucket id is a high-cardinality shuffle
  * key). The hot cosine kernel is the compiled
  * [[graft.functions.Expressions.CosineSim]] expression; the
  * composable `zip_with`/`aggregate` forms below are kept as the
  * pure-built-ins reference implementation (identical results,
  * asserted in VectorsSpec). Floats widen to double before
  * multiplying.
  */
object Vectors {

  def toDoubles(v: Column): Column = transform(v, _.cast(DoubleType))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The exact score every method ranks or thresholds on: the compiled
    * cosine rounded to 6 — rounding makes the ranking deterministic
    * across engines/summation orders. */
  private def exactCosine(a: Column, b: Column): Column = round(cosineSim(a, b), 6)

  /** The `k` first rows per `part` under `order` — the one rank tail
    * of every top-k method. `order` must be total (score, then id). */
  private def topKPer(scored: DataFrame, part: String, k: Int, order: Column*): DataFrame =
    scored.withColumn("_rn", row_number().over(Window.partitionBy(part).orderBy(order: _*)))
      .where(col("_rn") <= k).drop("_rn")

  /** One (table, bucket) row per LSH table of `vec`: the `_tbl`,
    * `_key` join key of the bucketed methods. */
  private def lshKeys(vec: Column, dim: Int, planes: Int, tables: Int): Column =
    posexplode(lshTableKeys(vec, dim, planes, tables)).as(Seq("_tbl", "_key"))

  /** Planes per table: the override if set, else auto-scaled to the
    * row count of `df` ([[Tables.rowCount]]: hint, statistics, count). */
  private def autoPlanes(df: DataFrame, bucketTarget: Int, planesOverride: Int,
                         nHint: Long): Int =
    if (planesOverride > 0) planesOverride
    else planesFor(Tables.rowCount(df, nHint), bucketTarget)

  /** Brute-force cosine top-k: for each query row, the k nearest
    * candidates by (cosine rounded to 6, id) — rounding makes the
    * ranking deterministic across engines/summation orders. */
  def bruteForceTopK(queries: DataFrame, qId: String, qVec: String,
                     candidates: DataFrame, cId: String, cVec: String,
                     k: Int): DataFrame = {
    // distribute the corpus before the O(|corpus|·|queries|·dim)
    // math — a single-split scan would score on one core
    val scored = Tables.spread(candidates, col(cId))
      .join(broadcast(queries), col(qId) =!= col(cId))
      .select(col(qId), col(cId), exactCosine(col(qVec), col(cVec)).as("cosine"))
    topKPer(scored, qId, k, col("cosine").desc, col(cId))
  }

  /** Symmetric int8 scalar quantization of an embedding column with a
    * per-vector scale (max|x|/127) — the storage/serving compression
    * step of an embedding corpus — plus the reconstruction-error
    * report a pipeline gates on. floor(x/scale + 0.5) instead of
    * round(): both engines' round() dialects disagree on negative
    * halves, floor is bit-identical everywhere. Per-row column math
    * in the scan stage; max-error is order-independent (no summation
    * order to pin). A 1e-30 scale floor keeps an all-zero vector
    * finite (quantizes to zeros, error 0). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   dim: Int): DataFrame = {
    val x = (i: Column) => element_at(col(vecCol), i).cast("double")
    val scale = greatest(
      array_max(transform(col(vecCol), v => abs(v.cast("double")))) / 127.0,
      lit(1e-30))
    val idx = sequence(lit(1), lit(dim))
    df.select(col(idCol), col(vecCol), scale.as("_scale"))
      .select(col(idCol), col("_scale"),
        transform(idx, i => floor(x(i) / col("_scale") + 0.5)).as("_qv"),
        col(vecCol))
      .select(col(idCol),
        round(col("_scale"), 6).as("scale"),
        array_max(transform(sequence(lit(1), lit(dim)),
          i => abs(element_at(col("_qv"), i) * col("_scale") - x(i))))
          .as("_max_err"),
        array_max(transform(col("_qv"), v => abs(v))).cast("long").as("max_q"))
      .select(col(idCol), col("scale"),
        round(col("_max_err"), 6).as("max_abs_err"), col("max_q"))
  }

  /** All near-duplicate pairs (a < b) with cosine ≥ threshold within
    * a blocking key (e.g. a label / coarse cluster), avoiding the
    * unblocked n² comparison. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(blockCol).as("_blk"), col(idCol).as("a"), col(vecCol).as("_va"))
    val b = df.select(col(blockCol).as("_blk"), col(idCol).as("b"), col(vecCol).as("_vb"))
    a.join(b, Seq("_blk")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        exactCosine(col("_va"), col("_vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits, each the
    * sign of a pseudo-random ±1 projection. Weights are deterministic
    * data-independent constants, materialized driver-side so the
    * per-row work is one zip_with per plane (no per-element hashing). */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column =
    (0 until planes).foldLeft(lit(0L)) { (acc, p) =>
      val weights = Array.tabulate(dim) { d =>
        if (scala.util.hashing.MurmurHash3.productHash((p, d)) % 2 == 0) 1.0 else -1.0
      }
      val proj = aggregate(
        zip_with(toDoubles(vec), typedlit(weights), (x, w) => x * w),
        lit(0.0), (a2, x) => a2 + x)
      acc.bitwiseOR(when(proj > 0, lit(1L << p)).otherwise(0L))
    }

  /** Deterministic hash-ordered sample, NOT limit(): the first N rows
    * in file order are not a sample — a corpus written sorted by
    * domain/time would train centroids on one corner of the space and
    * IVF recall quietly collapses (VectorsSpec covers the sorted-
    * corpus case). orderBy+limit compiles to a distributed top-k
    * (TakeOrderedAndProject), so no full sort materializes at scale.
    */
  private def hashOrderedSample(df: DataFrame, vecCol: String,
                                sampleSize: Int): Array[Array[Double]] =
    df.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)))
      // BOUNDED: limit(sampleSize) — fixed training sample
      .limit(sampleSize).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Deterministic Lloyd k-means on a driver-side sample: maximin
    * (farthest-point) init — the RNG-free k-means++ analog: each next
    * seed is the sample point with the largest distance to its nearest
    * already-chosen seed. Spreads seeds across the actual data
    * geometry (index-spread init can land several seeds in one dense
    * blob and leave a region uncovered), stays reproducible
    * run-to-run. Shared by the IVF coarse quantizer and the per-
    * subspace PQ codebooks. */
  private def kmeansFit(sample: Array[Array[Double]], k: Int,
                        iterations: Int): Array[Array[Double]] = {
    require(sample.length >= k, "not enough vectors to train quantizer")
    val dim = sample.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    var centroids = {
      val seeds = new Array[Array[Double]](k)
      seeds(0) = sample(0).clone()
      val minD = sample.map(v => d2(v, seeds(0)))
      var c = 1
      while (c < k) {
        var best = 0; var bestD = -1.0
        var i = 0
        while (i < sample.length) {
          if (minD(i) > bestD) { bestD = minD(i); best = i }
          i += 1
        }
        seeds(c) = sample(best).clone()
        i = 0
        while (i < sample.length) {
          val nd = d2(sample(i), seeds(c))
          if (nd < minD(i)) minD(i) = nd
          i += 1
        }
        c += 1
      }
      seeds
    }
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    var it = 0
    while (it < iterations) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearest(v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    centroids
  }

  /** Driver training-sample budget shared by [[trainIvfCentroids]]
    * and [[cellsFor]]'s cap (ADVICE r13: the two defaults were only
    * coupled by convention — a caller mixing a smaller sample with
    * cellsFor-sized nlist could under-sample Lloyd). */
  val IvfSampleSize = 4096

  /** IVF coarse quantizer: k-means centroids trained driver-side on a
    * bounded sample (deterministic: seeded sample order, fixed
    * iterations), returned as plain arrays. At 100 TB the sample is
    * a tiny `TABLESAMPLE`; assignment below stays fully distributed.
    */
  def trainIvfCentroids(df: DataFrame, vecCol: String, nCentroids: Int,
                        iterations: Int = 10,
                        sampleSize: Int = IvfSampleSize): Array[Array[Double]] = {
    require(sampleSize >= 4 * nCentroids,
      s"sampleSize=$sampleSize gives Lloyd < 4 sample points per " +
      s"centroid at nCentroids=$nCentroids — size cells via cellsFor($sampleSize)")
    kmeansFit(hashOrderedSample(df, vecCol, sampleSize), nCentroids, iterations)
  }

  /** X-M8: distributed k-means cluster report. Training runs on the
    * deterministic hash-ordered driver sample (maximin init + fixed
    * Lloyd iterations — the same quantizer the IVF index uses); the
    * DISTRIBUTED part is the full-corpus pass: every vector assigned
    * to its nearest centroid by the compiled [[graft.functions.Expressions.NearestCells]]
    * kernel, then one k-row aggregate of (size, mean distance). At
    * 100 TB the centroids ride into the scan as expression literals —
    * no join, no broadcast table — and the only shuffle is k rows of
    * partial moments. Distances are quantized on the 1e-6 grid with
    * the floor recipe, so the mean is a long-sum [[graft.core.Det.davgLong]]
    * both engines agree on bit-for-bit. */
  def kmeansReport(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Double]]): DataFrame = {
    val base = Tables.spread(df.select(col(idCol), col(vecCol)), col(idCol))
    val assigned = base.select(
      nearestCells(col(vecCol), centroids, 1).getItem(0).as("_cell"),
      col(vecCol))
    // (x - c)^2 folded left-to-right in double — the NearestCells
    // loop order, so the value is the exact distance the assignment
    // itself minimized (and the SQL mirror reproduces). Compiled
    // kernel (r16): one eval per row instead of one interpreted
    // lambda per dimension over the full corpus scan.
    val d2 = cellDistTo(col(vecCol), col("_cell"), centroids)
    val distQ = floor(sqrt(d2) * 1e6 + 0.5) / 1e6
    assigned
      .select(col("_cell").cast(LongType).as("cell"), distQ.as("_dist"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        graft.core.Det.davgLong(col("_dist"), 6).as("mean_dist"))
  }

  /** Cluster-based DIVERSE sampling — the coverage-aware selection
    * stage run after semantic dedup (pick representatives from EVERY
    * region of embedding space instead of density-biased random
    * sampling): assign each embedding to its nearest trained
    * centroid, keep the `perCell` members closest to the centroid
    * (rank by quantized distance, id tie-break — total and
    * engine-independent). Scale shape: one compiled NearestCells scan
    * pass + one window partitioned by cell (cell count is the
    * quantizer's k — bounded, chosen ∝ sqrt n); nothing all-pairs,
    * no driver state beyond the trained centroids. */
  def diverseSample(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], perCell: Int): DataFrame = {
    val base = Tables.spread(df.select(col(idCol), col(vecCol)), col(idCol))
    val assigned = base.select(col(idCol),
      nearestCells(col(vecCol), centroids, 1).getItem(0).as("_cell"),
      col(vecCol))
    // same left-to-right fold as the assignment kernel (and the m8
    // SQL mirror) so the ranked value IS the minimized distance;
    // compiled kernel (r16), one eval per row
    val d2 = cellDistTo(col(vecCol), col("_cell"), centroids)
    val distQ = floor(sqrt(d2) * 1e6 + 0.5) / 1e6
    topKPer(assigned.select(col(idCol), col("_cell").cast(LongType).as("cell"),
        distQ.as("dist_q")),
      "cell", perCell, col("dist_q"), col(idCol))
  }

  /** Product-quantization codebooks: the `dim`-dimensional space is
    * split into `m` contiguous subspaces of dim/m dimensions, and an
    * independent kSub-centroid k-means codebook is trained per
    * subspace on the SAME deterministic hash-ordered sample the IVF
    * quantizer uses (one sample collect serves both). Returned as
    * codebooks(j)(code) = subspace-centroid vector. A vector's PQ code
    * is then m small integers — at kSub ≤ 256, m BYTES per vector —
    * which is the entire point at 100 TB: the inverted lists carry
    * m-byte codes instead of 4·dim-byte float arrays, a 32× shrink at
    * (dim=64, m=8). */
  def trainPqCodebooks(df: DataFrame, vecCol: String, dim: Int, m: Int,
                       kSub: Int, iterations: Int = 10,
                       sampleSize: Int = 4096): Array[Array[Array[Double]]] = {
    require(dim % m == 0, "dim must be divisible by m")
    val ds = dim / m
    val sample = hashOrderedSample(df, vecCol, sampleSize)
    Array.tabulate(m) { j =>
      kmeansFit(sample.map(v => v.slice(j * ds, (j + 1) * ds)), kSub, iterations)
    }
  }

  /** IVF-bucketed approximate top-k: assign every vector to its
    * nearest coarse centroid via the compiled
    * [[graft.functions.Expressions.NearestCells]] kernel (one codegen
    * pass per row — the r01 interpreted aggregate/zip_with per
    * centroid was the ss_topk_ivf hot loop), probe each query's
    * `nProbe` nearest lists. The inverted-list id is the shuffle key —
    * the scale path when hyperplane LSH recall is poor on
    * near-isotropic data. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              centroids: Array[Array[Double]], nProbe: Int, k: Int,
              queryPred: Option[Column => Column] = None): DataFrame = {
    val base = Tables.spread(df.select(col(idCol), col(vecCol)), col(idCol))
    val candidates = base.select(col(idCol).as("cid"), col(vecCol).as("_cv"),
      nearestCells(col(vecCol), centroids, 1).getItem(0).as("_cell"))
    // queryPred restricts the QUERY side only (eval queries grade a
    // subset; per-qid results are independent, so the kept queries'
    // top-k is byte-identical to the unfiltered run's — the candidate
    // side always stays the full corpus). Computing all-query top-k
    // and discarding 95% was the r14 ss_recall_* shape (guide §2.3).
    val qBase = queryPred.fold(base)(p => base.where(p(col(idCol))))
    val queries = qBase.select(col(idCol).as("qid"), col(vecCol).as("_qv"),
      explode(nearestCells(col(vecCol), centroids, nProbe)).as("_cell"))
    val scored = queries.join(candidates, Seq("_cell"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), exactCosine(col("_qv"), col("_cv")).as("cosine"))
    topKPer(scored, "qid", k, col("cosine").desc, col("cid"))
  }

  /** PQ encode: the m small-int codes of a vector — per subspace, the
    * index of the nearest codebook centroid (squared-L2, ties by code
    * index; one compiled NearestCells pass per subspace over the
    * sliced subvector). */
  def pqCodes(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val ds = codebooks(0)(0).length
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      nearestCells(slice(vec, j * ds + 1, ds), cb, 1).getItem(0)
    }.toIndexedSeq: _*)
  }

  /** IVF-PQ approximate top-k — the standard billion-scale ANN index
    * shape (coarse inverted lists + product-quantized codes +
    * asymmetric distance computation):
    *
    *   - every vector gets a coarse cell (nearest IVF centroid) and an
    *     m-code PQ encoding — scan-stage column math, no shuffle;
    *   - each QUERY computes its ADC table once: the exact inner
    *     product of each of its m subvectors against every codebook
    *     centroid (m × kSub doubles per query row);
    *   - inside a probed cell, scoring a candidate is m table lookups
    *     + adds on the candidate's CODES — the raw float vector never
    *     moves through the join. That is the 100 TB point: the
    *     shuffled candidate side carries (id, cell, m codes ≈ m bytes)
    *     instead of 4·dim-byte float arrays (32× smaller at dim=64,
    *     m=8), and compute per pair drops from O(dim) multiplies to
    *     O(m) lookups.
    *
    * Approximate cosine = ADC inner product / (‖q‖ · PQ-reconstructed
    * ‖c‖), rounded to 6 before ranking (cross-engine determinism),
    * ties by candidate id.
    *
    * `rerank > 0` adds the standard deployment tail: the top-`rerank`
    * ADC shortlist per query is re-scored with the EXACT compiled
    * cosine on raw vectors before the final top-k. Only shortlist
    * rows ever touch a raw vector again — k·rerank pairs per query,
    * not the inverted list — so the 32× candidate-side shrink above
    * is preserved where it matters. Recall floors (ADC-only and
    * reranked) are measured in VectorsSpec. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                nProbe: Int, k: Int, rerank: Int = 0,
                queryPred: Option[Column => Column] = None): DataFrame = {
    // per-(subspace, code) squared norms: the PQ reconstruction of a
    // candidate's ‖c‖² is the sum of its chosen codes' norms
    val norms2: Array[Array[Double]] = codebooks.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })
    val base = Tables.spread(df.select(col(idCol), col(vecCol)), col(idCol))
    // compiled kernels throughout the per-row/per-pair path (r16,
    // guide "eliminate non-codegen expressions in the hot path"): the
    // interpreted transform/aggregate/zip_with forms of the ADC table,
    // the per-pair code lookup sum and the norm lookups evaluate one
    // lambda per ELEMENT — profiled at 27–38 CPU-s (table build) plus
    // 6–73 CPU-s (scoring join) per ss_topk_ivfpq run at sf0.1. Each
    // compiled twin makes one eval per row/pair with the identical
    // left-to-right IEEE fold from 0.0, so every emitted double is
    // bit-unchanged (oracle + VectorsSpec identity).
    val candidates = base.select(col(idCol).as("cid"),
        nearestCells(col(vecCol), centroids, 1).getItem(0).as("_cell"),
        pqCodes(col(vecCol), codebooks).as("_codes"))
      .withColumn("_cnorm2", codesConstLookupSum(col("_codes"), norms2))
    // ADC table: tab(j)(code) = <q_j, codebook_j(code)> — computed once
    // per query row, before the join fans the query out to candidates
    val tab = pqAdcTable(col(vecCol), codebooks)
    // dotProduct(v, v) accumulates double(x_i)·double(x_i) left-to-
    // right — the same IEEE op sequence as the previous
    // aggregate(transform(x -> x²)) form
    val qnorm = sqrt(dotProduct(col(vecCol), col(vecCol)))
    // query-side-only restriction — the ivfTopK queryPred contract
    val qBase = queryPred.fold(base)(p => base.where(p(col(idCol))))
    val queries = qBase.select(col(idCol).as("qid"),
      tab.as("_tab"), qnorm.as("_qnorm"),
      explode(nearestCells(col(vecCol), centroids, nProbe)).as("_cell"))
    val ip = codesDot(col("_tab"), col("_codes"))
    val scored = queries.join(candidates, Seq("_cell"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(ip / (col("_qnorm") * sqrt(col("_cnorm2"))), 6).as("cosine"))
    val order = Seq(col("cosine").desc, col("cid"))
    if (rerank <= 0) topKPer(scored, "qid", k, order: _*)
    else {
      val short = topKPer(scored, "qid", rerank, order: _*).select("qid", "cid")
      // cid-side vector first, qid-side LAST (r15): the final exact
      // window partitions by qid, so in the sort-merge regime it rides
      // the qid join's exchange instead of paying its own after a
      // cid-partitioned join (join order is result-neutral — both are
      // 1:1 key attaches). At bench scale both joins broadcast and the
      // plan is unchanged.
      val exact = short
        .join(base.select(col(idCol).as("cid"), col(vecCol).as("_cv")), Seq("cid"))
        .join(base.select(col(idCol).as("qid"), col(vecCol).as("_qv")), Seq("qid"))
        .select(col("qid"), col("cid"), exactCosine(col("_qv"), col("_cv")).as("cosine"))
      topKPer(exact, "qid", k, order: _*)
    }
  }

  /** Auto-scaled IVF coarse-cell count: nlist ≈ √n, the classical
    * IVF sizing — probed candidates per query ≈ nProbe·n/nlist =
    * nProbe·√n, total n^1.5, where ANY fixed cell count is n²/nlist
    * (ss_topk_ivf measured an honest k=16 ratio of 15.3 — essentially
    * linear-bar — at the r01–r12 pinned nlist=8). Floored at 8 (the
    * historical small-corpus operating point), capped at a quarter of
    * the driver training sample so Lloyd always has ≥4 sample points
    * per centroid. */
  def cellsFor(n: Long, sampleSize: Int = IvfSampleSize): Int =
    math.min(sampleSize / 4,
      math.max(8, math.ceil(math.sqrt(math.max(n, 1).toDouble)).toInt))

  /** One source of truth for the NSW graph-ANN operating point: both
    * twins — [[nswTopK]] (Spark) and `QueriesText.nswTopkSql` (the
    * generated DuckDB oracle) — and the `ss_topk_hnsw` /
    * `ss_recall_methods` registry entries read THESE constants, so a
    * tuning edit cannot desynchronize query from oracle (ADVICE r13:
    * the beam 10→16 widen changed one side's default and only the
    * next Verify run would have caught a miss). Round-count budget:
    * 1 init + BuildRounds + BeamRounds materialized CTEs ≤ ~8 total —
    * past that the unrolled DuckDB twin hits the plan-explosion wall
    * (NOTES r13). */
  // r14 operating point (RecallProbe sweep, NOTES r14): m 8→14,
  // initTables 3→4, bucketTarget 16→32 moved recall@3 at sf0.1 from
  // 0.39 to 0.79 (sf0.01: 0.75→0.97) at flat wall — the probe/build
  // stages are job-floor dominated at these corpus sizes, so graph
  // degree was free recall. Round counts deliberately unchanged
  // (the DuckDB unroll budget).
  // BeamRounds 3→2 (second sweep): recall 0.790→0.783 at sf0.1 /
  // 0.973 unchanged at sf0.01 — one whole probe round (a join +
  // window + checkpoint, and one MATERIALIZED oracle CTE) for 0.007
  // recall.
  object Nsw {
    val M = 14
    val BuildRounds = 3
    val Beam = 16
    val BeamRounds = 2
    val InitTables = 4
    val BucketTarget = 32
  }

  /** Shared IVF / IVF-PQ operating point for the registry twins —
    * same one-source-of-truth rationale as [[Nsw]]: the `ss_topk_ivf`
    * / `ss_topk_ivfpq` / `ss_recall_methods` query fns AND their
    * generated DuckDB oracles all read these, so a recall-tuning edit
    * lands on both engines at once. */
  // r14 operating point (RecallProbe sweep): IVF nProbe 4→8 moved
  // recall@3 at sf0.1 from 0.45 to 0.63; the PQ path additionally
  // needed finer codebooks (kSub 16→32, 5-bit codes), a deeper probe
  // (nProbe 10) and a wider exact-rerank shortlist (20→64) to reach
  // 0.63 (was 0.27 — an ADC shortlist that narrow simply never
  // contained the true neighbors). Candidates stay nProbe·√n per
  // query (n^1.5 total) — the documented IVF asymptote.
  object Ivf {
    val NProbe = 8
    val PqNProbe = 10
    val Rerank = 64
    val KSub = 32
  }

  /** Auto-scaled planes per table: the bucket count tracks corpus
    * size (2^planes ≈ n / bucketTarget) so expected bucket occupancy
    * — and with it the within-bucket self-join cost per document —
    * stays O(1) as the corpus grows. Fixed-plane LSH is quadratic in
    * n at any fixed parameterization (VERDICT r01 #3). */
  def planesFor(n: Long, bucketTarget: Int): Int = {
    val p = math.ceil(math.log(math.max(n, 2).toDouble / bucketTarget) / math.log(2)).toInt
    math.min(63, math.max(1, p))
  }

  /** LSH-bucketed approximate top-k with multi-table OR-banding:
    * `tables` independent hyperplane tables, each keyed by all of its
    * `planes` sign bits; a pair is a candidate if it collides in ANY
    * table (recall is recovered across tables while buckets stay
    * fine-grained). planes auto-scales with corpus size unless
    * overridden. Same output shape as [[bruteForceTopK]]; recall
    * measured in VectorsSpec, occupancy scaling in ScaleSpec. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              dim: Int, k: Int, tables: Int = 8, bucketTarget: Int = 16,
              planesOverride: Int = -1, nHint: Long = -1L,
              queryPred: Option[Column => Column] = None): DataFrame = {
    val planes = autoPlanes(df, bucketTarget, planesOverride, nHint)
    lshTopKKeyed(df, idCol, vecCol, Nil, dim, k, planes, tables, queryPred)
  }

  /** Shared candidate-generation body for [[lshTopK]] and
    * [[lshTopKFiltered]]: spread → table-key posexplode → self-join
    * on (table, bucket) widened by `extraKeys` → compiled cosine →
    * OR-dedup → per-query rank. One copy of the logic, so the plain
    * and attribute-constrained searches cannot drift. */
  private def lshTopKKeyed(df: DataFrame, idCol: String, vecCol: String,
                           extraKeys: Seq[String], dim: Int, k: Int,
                           planes: Int, tables: Int,
                           queryPred: Option[Column => Column] = None): DataFrame = {
    val carried = Seq(idCol, vecCol) ++ extraKeys
    val keyed = Tables.spread(df.select(carried.map(col): _*), col(idCol))
      .select(carried.map(col) :+ lshKeys(col(vecCol), dim, planes, tables): _*)
    val joinKeys = Seq("_tbl", "_key") ++ extraKeys
    // query-side-only restriction (the ivfTopK queryPred contract):
    // the predicate references only the id, so Catalyst pushes it
    // below the posexplode — the a-side signature kernel runs on the
    // kept queries only, while the candidate side stays the corpus
    val aKeyed = queryPred.fold(keyed)(p => keyed.where(p(col(idCol))))
    val a = aKeyed.select(joinKeys.map(col) ++
      Seq(col(idCol).as("qid"), col(vecCol).as("_qv")): _*)
    val b = keyed.select(joinKeys.map(col) ++
      Seq(col(idCol).as("cid"), col(vecCol).as("_cv")): _*)
    // ONE post-join exchange (r15): hash-partition by qid before the
    // OR-dedup — HashPartitioning(qid) satisfies both the distinct's
    // ClusteredDistribution(qid, cid, cosine) and the window's
    // ClusteredDistribution(qid), where distinct-then-window planned
    // two exchanges (the nswTopK rescore rule).
    val scored = Tables.spread(
        a.join(b, joinKeys).where(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"), exactCosine(col("_qv"), col("_cv")).as("cosine")),
        col("qid"))
      .distinct() // a pair may collide in several tables
    topKPer(scored, "qid", k, col("cosine").desc, col("cid"))
  }

  /** Cross-frame LSH retrieval (the RAG serving shape): queries and a
    * candidate corpus (e.g. passage chunks) hash into SHARED
    * hyperplane tables; candidates per query are (table, bucket)
    * collisions — one exchange on the key, both sides fact-scale, no
    * broadcast assumption (unlike [[semanticDecontaminate]], the
    * query side here grows with the corpus) — then the compiled
    * exact cosine reranks and a per-query window keeps top-k.
    * `selfExcludeCol` drops candidates originating from the query's
    * own document (retrieval eval wants OTHER documents' passages). */
  def ragRetrieveTopK(queries: DataFrame, qIdCol: String, qVecCol: String,
                      cands: DataFrame, cKeyCols: Seq[String], cVecCol: String,
                      dim: Int, k: Int, tables: Int = 8, bucketTarget: Int = 16,
                      planesOverride: Int = -1, nHint: Long = -1L,
                      selfExcludeCol: Option[String] = None): DataFrame = {
    // planes auto-scale with the CANDIDATE corpus size (the side that
    // grows); override pins them for the static SQL oracle.
    val planes = autoPlanes(cands, bucketTarget, planesOverride, nHint)
    // vector columns aliased to internal names BEFORE the join (the
    // mipsTopK _qv/_cv discipline) — callers naturally use the same
    // column name on both sides, which would make the post-join
    // cosineSim reference ambiguous
    val q = Tables.spread(queries, col(qIdCol))
      .select(col(qIdCol), col(qVecCol).as("_qv"), lshKeys(col(qVecCol), dim, planes, tables))
    val c = Tables.spread(cands, cKeyCols.map(col): _*)
      .select(cKeyCols.map(col) ++ Seq(col(cVecCol).as("_cv"),
        lshKeys(col(cVecCol), dim, planes, tables)): _*)
    val joined = q.join(c, Seq("_tbl", "_key"))
    val filtered = selfExcludeCol
      .map(sc => joined.where(col(sc) =!= col(qIdCol))).getOrElse(joined)
    // one post-join exchange — the lshTopKKeyed qid-spread rule (r15)
    val scored = Tables.spread(
        filtered.select(col(qIdCol) +: cKeyCols.map(col) :+
          exactCosine(col("_qv"), col("_cv")).as("cosine"): _*),
        col(qIdCol))
      .distinct() // a pair may collide in several tables
    topKPer(scored, qIdCol, k, col("cosine").desc +: cKeyCols.map(col): _*)
  }

  /** MIPS (maximum inner-product search) top-k via the norm-
    * augmentation reduction (Bachrach et al. '14 / Neyshabur & Srebro
    * '15): every candidate appends sqrt(M² − ‖c‖²) (M = max corpus
    * norm), every query appends 0 — in the augmented space cosine
    * order equals inner-product order, so the existing random-
    * hyperplane tables index MIPS unchanged. Candidates are
    * (table, bucket) collisions of the AUGMENTED keys — collision-
    * bounded, never all-pairs — scored by the exact compiled dot
    * product, ranked by (round(dot, 6) desc, id).
    *
    * Scale shape: M² is ONE scalar aggregate riding back as a 1-row
    * broadcast (the allowlisted pattern); everything else is the
    * [[lshTopK]] plan — key posexplode, one exchange on (table,
    * bucket), per-query window rank. */
  def mipsTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               k: Int, tables: Int = 8, bucketTarget: Int = 16,
               planesOverride: Int = -1, nHint: Long = -1L): DataFrame = {
    // planes auto-scale with corpus size (O(1) expected bucket
    // occupancy — the lshTopK scale path); override pins them for the
    // static SQL oracle
    val planes = autoPlanes(df, bucketTarget, planesOverride, nHint)
    // compiled squared norm (r16): dotProduct(v, v) accumulates
    // double(x_i)·double(x_i) left-to-right — the identical IEEE op
    // sequence as the interpreted aggregate(transform(x -> x²)) form
    val n2 = dotProduct(col(vecCol), col(vecCol))
    val base = Tables.spread(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol), col(vecCol), n2.as("_n2"))
    val m2 = base.agg(max(col("_n2")).as("_m2"))
    val caug = concat(transform(col(vecCol), x => x.cast(DoubleType)),
      array(sqrt(col("_m2") - col("_n2"))))
    val qaug = concat(transform(col(vecCol), x => x.cast(DoubleType)),
      array(lit(0.0)))
    val cKeyed = base.crossJoin(broadcast(m2))
      .select(col(idCol).as("cid"), col(vecCol).as("_cv"), lshKeys(caug, dim + 1, planes, tables))
    val qKeyed = base.select(col(idCol).as("qid"), col(vecCol).as("_qv"),
      lshKeys(qaug, dim + 1, planes, tables))
    // one post-join exchange — the lshTopKKeyed qid-spread rule (r15)
    val scored = Tables.spread(
        qKeyed.join(cKeyed, Seq("_tbl", "_key"))
          .where(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            round(dotProduct(col("_qv"), col("_cv")), 6).as("dot")),
        col("qid"))
      .distinct() // a pair may collide in several tables
    topKPer(scored, "qid", k, col("dot").desc, col("cid"))
  }

  /** Attribute-constrained (PRE-filtered) ANN top-k: each query sees
    * only corpus vectors whose `attrCol` equals its own — the
    * "filtered vector search" every production vector store offers
    * (tenant / language / category scoping). The constraint is
    * COMPOSED INTO the LSH shuffle key — candidates are pairs
    * colliding on (table, bucket, attr) — rather than post-filtering
    * a top-k computed over the whole corpus, which silently returns
    * fewer than k (or zero) rows for selective filters: with
    * pre-filtering, recall within the filtered stratum follows the
    * same OR-banding bound as the unfiltered search. Same plan shape
    * as [[lshTopK]] — one exchange on the widened key, candidates ∝
    * within-stratum collisions, never corpus × filter. */
  def lshTopKFiltered(df: DataFrame, idCol: String, vecCol: String,
                      attrCol: String, dim: Int, k: Int,
                      tables: Int = 8, planes: Int = 6): DataFrame =
    lshTopKKeyed(df, idCol, vecCol, Seq(attrCol), dim, k, planes, tables)

  /** SEMANTIC decontamination: flag training documents whose
    * embedding is cosine-close to ANY benchmark/eval embedding — the
    * paraphrase-contamination pass the n-gram rule
    * ([[Dedup.decontaminate]]) cannot catch (a reworded eval question
    * shares no 4-gram with its source). Cross-frame twin of
    * [[lshNearDupPairs]]: both sides hash into the same hyperplane
    * tables, candidates are bucket collisions with the BENCH side
    * broadcast (eval sets are dimension-sized next to a 100 TB
    * corpus — the join never shuffles the training embeddings), the
    * compiled cosine verifies, and one per-train-doc aggregate
    * reports (n_bench_hits, max_cosine). Anti-join against the
    * result is the clean-corpus filter. */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String, dim: Int,
                            threshold: Double, tables: Int = 8,
                            planes: Int = 6): DataFrame = {
    def keyed(df: DataFrame, as: String, vas: String) =
      df.select(col(idCol).as(as), col(vecCol).as(vas), lshKeys(col(vecCol), dim, planes, tables))
    val tr = keyed(Tables.spread(train, col(idCol)), "_tid", "_tv")
    val be = keyed(bench, "_bid", "_bv")
    tr.join(broadcast(be), Seq("_tbl", "_key"))
      .select(col("_tid"), col("_bid"), exactCosine(col("_tv"), col("_bv")).as("cosine"))
      .distinct() // a pair colliding in several tables scores once
      .where(col("cosine") >= threshold)
      .groupBy(col("_tid").as(idCol))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cosine")).as("max_cosine"))
  }

  /** Graph-based ANN — single-layer navigable-small-world search
    * (the HNSW family minus the hierarchy; Malkov & Yashunin '16 §4,
    * NN-descent construction per Dong et al. '11). The index most
    * production vector stores actually run, alongside the LSH / IVF /
    * IVF-PQ quartet graded in `ss_recall_methods`. Three bounded
    * phases, every step an equi-join or a node-keyed window — the
    * m13/m9 fixed-round iteration discipline, so the DuckDB twin
    * unrolls finitely:
    *
    *  1. INIT — within-bucket top-`m` neighbors under `initTables`
    *     hyperplane LSH tables (planes auto-scaled via [[planesFor]]:
    *     O(1) bucket occupancy ⇒ candidate volume ∝ corpus, never
    *     all-pairs; the lshTopK scale rule).
    *  2. BUILD — `buildRounds` NN-descent rounds: candidates =
    *     neighbors ∪ reverse neighbors ∪ neighbors-of-neighbors
    *     (≤ m + m + m² per node, m constant), exact codegen cosine,
    *     keep top-`m` per node (round-6 ties by candidate id).
    *  3. PROBE — beam search, synchronous-round variant: beam₀ =
    *     own graph neighbors; each of `beamRounds` rounds expands the
    *     beam by its graph neighbors (≤ beam·m), rescores, keeps
    *     top-`beam`; emit top-`k` of the final beam.
    *
    * Scale shape: the graph is an (n·m)-row frame persisted per round
    * (recomputable; ≤ buildRounds+1 frames live — bounded small
    * constants, freed by harness reclaim); probe rounds shuffle
    * (qid, cid) pairs bounded by n·beam·m. Recall vs brute force is
    * asserted in VectorsSpec and graded per-method in
    * `ss_recall_methods`. Output shape matches [[lshTopK]]:
    * (qid, cid, cosine round-6, per-query top-k). */
  def nswTopK(df: DataFrame, idCol: String, vecCol: String,
              dim: Int, k: Int, m: Int = Nsw.M,
              buildRounds: Int = Nsw.BuildRounds,
              beam: Int = Nsw.Beam, beamRounds: Int = Nsw.BeamRounds,
              initTables: Int = Nsw.InitTables,
              bucketTarget: Int = Nsw.BucketTarget, planesOverride: Int = -1,
              nHint: Long = -1L,
              queryPred: Option[Column => Column] = None): DataFrame = {
    require(beam >= k, s"beam=$beam must be >= k=$k")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val planes = autoPlanes(df, bucketTarget, planesOverride, nHint)
    // (node, vec) scanned twice per scoring round (query + candidate
    // side) across buildRounds+beamRounds+2 rounds — persist once
    // (row-sized, recomputable) instead of 2×rounds source scans
    val vecs = Tables.spread(df.select(col(idCol).as("node"), col(vecCol).as("_v")), col("node"))
      .persist(lvl)
    def rescore(cands: DataFrame, keep: Int): DataFrame = {
      // cands: (node, cand) — dedup, exact cosine, top-`keep` per node.
      // ONE exchange per round (r15): hash-partition by `node` FIRST —
      // HashPartitioning(node) satisfies the distinct aggregate's
      // ClusteredDistribution(node, cand) (equal pairs co-locate) AND
      // the window's ClusteredDistribution(node), and the two vecs
      // joins broadcast, so neither the distinct nor the window plans
      // its own exchange afterward. The previous shape paid two
      // (distinct on the pair key, then window on node) — with 6
      // checkpointed rounds that is 6 extra barrier stages per query
      // at the bench's stage-latency floor.
      val scored = Tables.spread(cands, col("node")).distinct()
        .join(vecs.select(col("node"), col("_v").as("_nv")), "node")
        .join(vecs.select(col("node").as("cand"), col("_v").as("_cv")), "cand")
        .select(col("node"), col("cand"), exactCosine(col("_nv"), col("_cv")).as("cosine"))
      topKPer(scored, "node", keep, col("cosine").desc, col("cand"))
    }
    // 1. INIT: within-bucket pairs under `initTables` hyperplane tables
    val keyed = vecs.select(col("node"), lshKeys(col("_v"), dim, planes, initTables))
    val initPairs = keyed.join(
        keyed.select(col("_tbl"), col("_key"), col("node").as("cand")),
        Seq("_tbl", "_key"))
      .where(col("node") =!= col("cand"))
      .select(col("node"), col("cand"))
    // Every round's frame is referenced ≥2× by the NEXT round (the
    // 2-hop self-join / the beam's carry-over + expansion), so the
    // LOGICAL PLAN TREE doubles per round — persist dedups execution
    // but not the tree, and at 3+3 rounds plan construction/rendering
    // itself OOMs (measured: heap death inside generateTreeString).
    // localCheckpoint is the correct cut for this shape: eager, flat
    // LogicalRDD, node×m-row frames, ≤ rounds+1 live at once, freed
    // by harness reclaim. (The lineage-chain loops — pageRank, label
    // prop — only need it every 4 rounds; a DAG loop needs it every
    // round.)
    // CP-OK: loop-carried state, multiply-referenced per round —
    // plan tree is exponential without the cut; graph frames are
    // node×m-sized and recomputable
    var g = rescore(initPairs, m).localCheckpoint()
    // 2. BUILD: NN-descent rounds
    for (_ <- 1 to buildRounds) {
      val fwd = g.select(col("node"), col("cand"))
      val rev = g.select(col("cand").as("node"), col("node").as("cand"))
      val twoHop = g.select(col("node"), col("cand").as("_mid"))
        .join(g.select(col("node").as("_mid"), col("cand")), "_mid")
        .select(col("node"), col("cand"))
      // CP-OK: same exponential-plan cut as above, once per round
      g = rescore(fwd.union(rev).union(twoHop).where(col("node") =!= col("cand")), m)
        .localCheckpoint()
    }
    // 3. PROBE: beam₀ = own neighbors, then bounded expansion rounds
    // (beam frames: same ≥2-references-per-round shape — unpersisted
    // they also recompute 2^beamRounds times, measured 5.5 → 73 s at
    // sf0.1 when rounds went 2 → 3)
    // queryPred restricts the PROBE side only (per-qid beams are
    // independent; the GRAPH above is always built over the full
    // corpus, so kept queries' results are byte-identical — the
    // ivfTopK queryPred contract)
    val probeSeed = queryPred.fold(g)(p => g.where(p(col("node"))))
    var beamDf = probeSeed.select(col("node").as("qid"), col("cand").as("cid"),
      col("cosine"))
    for (r <- 1 to beamRounds) {
      val expanded = beamDf.select(col("qid"), col("cid").as("node"))
        .join(g.select(col("node"), col("cand")), "node")
        .select(col("qid"), col("cand").as("cid"))
      val cands = beamDf.select(col("qid"), col("cid"))
        .union(expanded).where(col("qid") =!= col("cid"))
        .withColumnRenamed("qid", "node").withColumnRenamed("cid", "cand")
      // The LAST round folds the final top-k into its own rescore
      // window: the emitted top-k is the first k rows of the final
      // beam under the identical (cosine desc, cand) order, so
      // rescore(keep = k) returns byte-identical rows to
      // rescore(keep = beam) + a second top-k window — one window,
      // one exchange and one eager checkpoint job fewer (r15; the
      // frame is then consumed exactly once, the dbscan stays-LAZY
      // rule, so no lineage cut is needed either).
      if (r == beamRounds)
        return rescore(cands, k)
          .select(col("node").as("qid"), col("cand").as("cid"), col("cosine"))
      // CP-OK: beam loop state, (n·beam)-row, multiply-referenced —
      // the exponential-plan cut, once per round
      beamDf = rescore(cands, beam)
        .select(col("node").as("qid"), col("cand").as("cid"), col("cosine"))
        .localCheckpoint()
    }
    // beamRounds == 0: emit top-k of the seed beam (g's top-m rows)
    topKPer(beamDf, "qid", k, col("cosine").desc, col("cid"))
  }

  /** Embedding near-dup pairs blocked by LSH buckets instead of a
    * label column — removes [[cosineNearDupPairs]]'s dependence on a
    * meaningful blocking key: candidates are the pairs colliding in
    * any of the `tables` hyperplane tables (OR-banding), verified by
    * the codegen'd cosine kernel. Same shuffle shape as [[lshTopK]];
    * recall follows the OR-banding collision probability
    * 1 − (1 − (1 − θ/π)^planes)^tables for angle θ. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      dim: Int, threshold: Double,
                      tables: Int = 8, planes: Int = 6): DataFrame = {
    val keyed = Tables.spread(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol), col(vecCol), lshKeys(col(vecCol), dim, planes, tables))
    val a = keyed.select(col("_tbl"), col("_key"), col(idCol).as("a"), col(vecCol).as("_av"))
    val b = keyed.select(col("_tbl"), col("_key"), col(idCol).as("b"), col(vecCol).as("_bv"))
    a.join(b, Seq("_tbl", "_key")).where(col("a") < col("b"))
      .select(col("a"), col("b"), exactCosine(col("_av"), col("_bv")).as("cosine"))
      .distinct()
      .where(col("cosine") >= threshold)
  }
}
