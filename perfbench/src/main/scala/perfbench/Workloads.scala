package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.core.{Det, QueryDialect, Tables}
import graft.functions.Photometry
import graft.operators.{Clustering, Dedup, Joins, Outliers, Spatial, Text, Vectors}

/** What one op hands back: its result fingerprint, plus per-layer
  * counts observed on the way (traced passes only). */
final case class OpOut(fp: Fingerprint, counts: Map[String, Long] = Map.empty)

/** One registry op. `run` is one timed action; `traced` is the same
  * op rebuilt from the library's public layer functions, with a span
  * around every layer call and materialization at each boundary. Both
  * must produce the registry op's result. */
final case class Op(name: String, run: () => OpOut, traced: () => OpOut)

final class Ctx(val spark: SparkSession, val dir: String, val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def load(table: String): DataFrame = span("core.load")(Tables.load(spark, dir, table))
  def registry(name: String): OpOut =
    OpOut(Fingerprint.of(graft.SparkEntry.queries(name)(spark, dir))._1)
}

object Workloads {
  val ZtfOps = Seq("ep2_flagship", "s2_scan_pushdown", "j1_meta_join", "p1_expr_filter",
    "m1_dbscan", "j3_nn_join", "j5_centroid_match", "c2_calmag", "m3_iqr_outlier_clean")
  val DedupOps = Seq("dd_containment", "ss_topk_ivfpq", "ep4_corpus_curation")

  private def opNames(workload: String): Seq[String] = workload match {
    case "ztf_pipeline" => ZtfOps
    case "dedup_ann_x4" => DedupOps
  }

  def ops(workload: String, c: Ctx): Seq[Op] =
    opNames(workload).map(n => Op(n, () => c.registry(n), () => c.span(s"op.$n")(traced(n, c))))

  private def fp(df: DataFrame): Fingerprint = Fingerprint.of(df)._1

  private def traced(name: String, c: Ctx): OpOut = {
    import c.{span, load, spark}
    name match {
      case "ep2_flagship" =>
        val frames = span("pipeline.eager")(Pipeline.stages(spark, c.dir))
        OpOut(frames.map { case (n, df) => span(s"pipeline.$n")(fp(df)) }.last)

      case "s2_scan_pushdown" | "j1_meta_join" => c.registry(name)

      case "p1_expr_filter" =>
        val li = load("lineitem")
        OpOut(span("core.query_dialect")(fp(
          QueryDialect.query(li,
              "10 < l_quantity <= 20 and l_returnflag in @flags and not (l_linenumber < 3)",
              Map("flags" -> Seq("A", "R")))
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
            .orderBy("l_orderkey", "l_linenumber"))))

      case "m1_dbscan" =>
        val pts = load("part").select(col("p_partkey"),
          ((col("p_partkey") * 17) % 500).as("x"), ((col("p_partkey") * 29) % 500).as("y"))
        OpOut(span("operators.clustering.dbscan")(fp(
          Clustering.dbscan(pts, "p_partkey", "x", "y", eps = 5.0, minSamples = 2)
            .orderBy("p_partkey"))))

      case "j3_nn_join" =>
        val matched = Spatial.nnJoinWithin(
            partPoints(c), "p_partkey", "px", "py",
            suppPoints(c), "s_suppkey", "sx", "sy", radius = 150.0)
          .select("p_partkey", "s_suppkey", "dist2").orderBy("p_partkey")
        val (f, Seq(pairs)) = span("operators.spatial.nn_join")(
          Fingerprint.of(matched, count(col("s_suppkey"))))
        OpOut(f, Map("operators.spatial.pairs_out" -> pairs))

      case "j5_centroid_match" =>
        val pp = load("part").select(col("p_partkey"), col("p_brand"),
          (col("p_partkey") % 1000).as("px"), ((col("p_partkey") * 13) % 1000).as("py"))
        val cents = pp.groupBy("p_brand").agg(avg("px").as("cx"), avg("py").as("cy"))
        val matched = Spatial.nnJoinWithin(
            cents, "p_brand", "cx", "cy",
            suppPoints(c), "s_suppkey", "sx", "sy", radius = 200.0)
          .select("p_brand", "s_suppkey", "dist2")
        span("operators.spatial.nn_join")(fp(matched))
        OpOut(span("operators.joins.merge")(fp(
          Joins.suffixJoin(pp.select("p_partkey", "p_brand"), matched, Seq("p_brand"), "_match")
            .orderBy("p_partkey"))))

      case "c2_calmag" =>
        val li = load("lineitem")
        val (mag, zp, cc) = (col("l_quantity"), col("l_tax") * 10, col("l_discount"))
        val (c1, c2c) = (col("l_extendedprice") / 10000, col("l_quantity") / 7)
        OpOut(span("functions.calmag")(fp(li.select(
            col("l_orderkey"), col("l_linenumber"),
            Photometry.calMag(mag, zp, Some(cc), Some(c1), Some(c2c)).as("cal_mag"),
            Photometry.calMagErr(
              eMag = col("l_discount") / 10 + 0.01, eZp = lit(0.01),
              clrcoeff = cc, eClrcoeff = lit(0.002), color1 = c1, color2 = c2c,
              eColor1 = lit(0.02), eColor2 = lit(0.03)).as("cal_mag_err"))
          .orderBy("l_orderkey", "l_linenumber"))))

      case "m3_iqr_outlier_clean" =>
        val li = load("lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_tax", "l_discount")
        OpOut(span("operators.outliers.iqr") {
          val (clean, _) = Outliers.iqrOutlierRemoval(li, "l_partkey",
            col("l_quantity") + lit(10) * col("l_tax"),
            col("l_quantity") + lit(10) * col("l_discount"), cut = 1.0, nBins = 10)
          fp(clean.select("l_orderkey", "l_linenumber", "l_partkey", "norm_mag_dist")
            .orderBy("l_orderkey", "l_linenumber"))
        })

      case "dd_containment" =>
        val docs = load("documents")
        val pairs = span("operators.dedup.containment")(fp(
          Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.6, ngram = 3)
            .orderBy("a", "b")))
        OpOut(pairs, Map("operators.dedup.containment_pairs_out" -> pairs.rows))

      case "ss_topk_ivfpq" =>
        val e = load("embeddings")
        val nCells = Vectors.cellsFor(Tables.parquetRowCount(spark, c.dir, "embeddings"))
        val cents = span("operators.vectors.train_ivf")(
          Vectors.trainIvfCentroids(e, "embedding", nCentroids = nCells))
        val cbs = span("operators.vectors.train_pq")(
          Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = Vectors.Ivf.KSub))
        val out = span("operators.vectors.ivfpq_query")(fp(
          Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs,
              nProbe = Vectors.Ivf.PqNProbe, k = 3, rerank = Vectors.Ivf.Rerank)
            .orderBy(col("qid"), col("cosine").desc, col("cid"))))
        val codes = span("operators.vectors.pq_codes")(
          fp(e.select(Vectors.pqCodes(col("embedding"), cbs).as("codes"))))
        OpOut(out, Map("operators.vectors.pq_codes_rows" -> codes.rows))

      case "ep4_corpus_curation" =>
        // Pipeline.corpusCuration, one span per layer call
        val base = Tables.spread(
            load("documents").select(col("doc_id"), col("text"), col("lang")), col("doc_id"))
          .withColumn("quality", Text.qualityScore(col("text")))
          .where(col("quality") > 0.35)
          .persist(StorageLevel.MEMORY_AND_DISK)
        span("operators.text.quality")(base.count())
        val keep1 = Dedup.exact(base, "doc_id", "text").select(col("kept_id").as("doc_id"))
        span("operators.dedup.exact")(fp(keep1))
        val kept1 = base.join(keep1, Seq("doc_id"), "left_semi")
        val lsh = (5, 8, 4) // shingle size, hashes, band size
        val cands = span("operators.dedup.minhash_candidates")(fp(
          Dedup.minhashCandidatePairs(kept1, "doc_id", "text", lsh._1, lsh._2, lsh._3, poly = true)))
        val verified = span("operators.dedup.minhash_verified")(fp(
          Dedup.minhashVerifiedPairs(kept1, "doc_id", "text", 0.25, lsh._1, lsh._2, lsh._3,
            poly = true)))
        val groups = Dedup.duplicateGroups(kept1, "doc_id", "text",
          threshold = 0.25, shingleSize = lsh._1, numHashes = lsh._2, bandSize = lsh._3,
          poly = true)
        span("operators.dedup.duplicate_groups")(fp(groups))
        val kept2 = kept1.join(
          groups.where(col("is_dup") === false).select("doc_id"), Seq("doc_id"), "left_semi")
        val report = kept2.withColumn("split", Text.hashSplit(col("doc_id")))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
            round(Det.davg(col("quality"), 8), 6).as("mean_quality"))
          .orderBy("split", "lang")
        OpOut(span("op.ep4_corpus_curation.report")(fp(report)), Map(
          "operators.dedup.minhash_candidates" -> cands.rows,
          "operators.dedup.minhash_verified" -> verified.rows))
    }
  }

  private def partPoints(c: Ctx): DataFrame = c.load("part").select(col("p_partkey"),
    (col("p_partkey") % 1000).as("px"), ((col("p_partkey") * 13) % 1000).as("py"))

  private def suppPoints(c: Ctx): DataFrame = c.load("supplier").select(col("s_suppkey"),
    ((col("s_suppkey") * 37) % 1000).as("sx"), ((col("s_suppkey") * 91) % 1000).as("sy"))

  /** Oracle SQL for every op of the workload: the registry's oracleSql,
    * or its sqlGen evaluated on this workload's inputs. */
  def oracleSql(workload: String, spark: SparkSession, dir: String): Map[String, String] =
    opNames(workload).map { n =>
      n -> graft.SparkEntry.oracleSql.getOrElse(n,
        graft.Queries.all.find(_.name == n).flatMap(_.sqlGen)
          .getOrElse(sys.error(s"$n has no oracle"))(spark, dir))
    }.toMap
}
