package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Vectors

/** Dev tool: recall@3 (vs brute force, %20 query subset — the
  * ss_recall_methods protocol) + wall time for parameterized ANN
  * configs, so index operating points are tuned on measurements
  * instead of vibes.
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> <spec>[;<spec>...]
  *   spec = hnsw:m=8,bt=16,it=3,beam=16,br=3,nr=3
  *        | ivf:np=4  | ivfpq:np=4,rr=20 | lsh:
  * hnsw's `bt` is the bucket target of its INIT tables: planes =
  * planesFor(n, bt); lsh runs at planesFor(n, 16), the registry's.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // '+' separator as well: sbt -batch splits its command string on ';'
    val specs = args.lift(1).getOrElse("hnsw:+ivf:").split("[;+]").toSeq
    val spark = graft.Harness.session()
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val n = graft.core.Tables.parquetRowCount(spark, dir, "embeddings")
    val q = e.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val brute = Vectors.bruteForceTopK(q, "query_id", "qv",
        e, "vec_id", "embedding", k = 3)
      .select(col("query_id").as("qid"), col("vec_id").as("cid"))
      .localCheckpoint() // CP-OK: dev tool, bounded (3 rows/query)
    // the brute frame outlives every per-spec reclaim below: it is
    // checkpointed before the first run starts
    val nBrute = brute.count()

    def recall(approx: DataFrame): Double = {
      val hits = brute.join(
        approx.where(col("qid") % 20 === 0).select(col("qid"), col("cid"))
          .withColumn("_h", lit(1)),
        Seq("qid", "cid"), "left").agg(count(col("_h"))).head.getLong(0)
      hits.toDouble / nBrute
    }
    def p(m: Map[String, Int], k: String, d: Int) = m.getOrElse(k, d)
    specs.foreach { s =>
      val Array(kind, kv) = (s + ":").split(":", 2).map(_.stripSuffix(":"))
      val ps = kv.split(",").filter(_.nonEmpty)
        .map { t => val Array(a, b) = t.split("="); a -> b.toInt }.toMap
      // timed from BEFORE construction: nswTopK's localCheckpoint
      // rounds run eagerly at build time — excluding them reports only
      // the final recall join, not the index cost
      val (r, dt) = graft.Harness.timed(spark)(recall(kind match {
        case "hnsw" => Vectors.nswTopK(e, "vec_id", "embedding", dim = 64, k = 3,
          planes = Vectors.planesFor(n, p(ps, "bt", Vectors.Nsw.BucketTarget)),
          m = p(ps, "m", Vectors.Nsw.M),
          buildRounds = p(ps, "nr", Vectors.Nsw.BuildRounds),
          beam = p(ps, "beam", Vectors.Nsw.Beam),
          beamRounds = p(ps, "br", Vectors.Nsw.BeamRounds),
          initTables = p(ps, "it", Vectors.Nsw.InitTables))
        case "ivf" =>
          val cents = Vectors.trainIvfCentroids(e, "embedding",
            nCentroids = Vectors.cellsFor(n))
          Vectors.ivfTopK(e, "vec_id", "embedding", cents,
            nProbe = p(ps, "np", Vectors.Ivf.NProbe), k = 3)
        case "ivfpq" =>
          val cents = Vectors.trainIvfCentroids(e, "embedding",
            nCentroids = Vectors.cellsFor(n))
          val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8,
            kSub = p(ps, "ks", 16))
          Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs,
            nProbe = p(ps, "np", Vectors.Ivf.NProbe), k = 3,
            rerank = p(ps, "rr", Vectors.Ivf.Rerank))
        case "lsh" => Vectors.lshTopK(e, "vec_id", "embedding",
          dim = 64, k = 3, planes = Vectors.planesFor(n, 16), tables = 8)
      }))
      println(f"[recall] $s%-40s recall=$r%.3f wall=$dt%6.2f s  (n=$n)")
    }
    spark.stop()
  }
}
