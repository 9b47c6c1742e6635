package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{QueryDialect, Tables}
import graft.functions.{Coords, Photometry}
import graft.ml.{Odr, Ols}
import graft.operators._
import graft.syntax._

/** The fluent extension-method surface: the reference's EP3 direct-
  * srcdf path (SURVEY §3) as one method chain, each `graft.syntax`
  * method against the operator it forwards to, and graft-only
  * operators chained through `transform`. */
class SyntaxSpec extends SparkSpec {
  import spark.implicits._

  /** Same columns, and the same rows as a multiset. */
  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
  }

  test("EP3 chain: read -> match -> solution -> calmag -> coords -> trim -> dust") {
    // a small synthetic catalog: sources on RC 14 with sky positions
    val src = (1 to 400).map { i =>
      val ra = (i % 50) * 0.01
      val dec = (i / 50) * 0.01
      (i.toLong, 14L, (i % 3000).toDouble, (i % 3000).toDouble,
        ra, dec, 15.0 + i % 10, 0.02 * (i % 5))
    }.toDF("srcid", "RCID", "xpos", "ypos", "ra", "dec", "mag", "clr")
    val cal = (0 to 60).map { j =>
      (1000L + j, (j % 8) * 0.05, (j / 8) * 0.05, 26.0 + (j % 3) * 0.1)
    }.toDF("calid", "cra", "cdec", "zp")

    val out = src
      .queryDf("mag < 25 and RCID == 14")
      .matchToCalibrators("srcid", "ra", "dec", cal, "calid", "cra", "cdec",
        radiusDeg = 0.05)
      .queryDf("calid is not null")
      .photometricSolution("g", col("mag"), col("zp") - col("mag") + col("clr"))
      .calmag("mag", "fit_zp_g", clrcoeff = Some("fit_clrcoeff_g"),
        color1 = Some("clr"), color2 = Some("clr"))
      .computeCameraCoord()
      .trimEdges("xpos", "ypos", 10, 10)
      .tagDust("srcid", "xpos", "ypos",
        Seq((1L, 100.0, 100.0, 50.0)).toDF("gid", "gx", "gy", "gr"),
        "gid", "gx", "gy", "gr")

    val rows = out.collect()
    assert(rows.nonEmpty)
    // the chain kept every appended column
    Seq("cal_mag", "fit_zp_g", "sig_fit_zp_g", "fit_clrcoeff_g",
      "sig_fit_clrcoeff_g", "cam_xpos", "cam_ypos", "gid").foreach(c =>
      assert(out.columns.contains(c), s"missing $c"))
    // RC14 at the camera origin: camera coords == local coords there
    val r0 = rows.head
    assert(r0.getAs[Double]("cam_xpos") == r0.getAs[Double]("xpos"))
    // trim really trimmed
    assert(rows.forall(r => r.getAs[Double]("xpos") > 10))
  }

  test("cluster -> select chain mirrors the notebook idiom") {
    val src = Seq(
      (1L, 0.0, 0.0, 1.0), (2L, 0.5, 0.5, 2.0), (3L, 0.4, 0.1, 30.0),
      (10L, 100.0, 100.0, 3.0), (11L, 100.2, 100.1, 4.0))
      .toDF("srcid", "x", "y", "v")
    val kept = src
      .clusterSources("srcid", "x", "y", eps = 2.0, minSamples = 1)
      .selectClusters(col("v") < 10.0)
    // cluster {1,2,3} has a violating member (v=30) -> all dropped
    assert(kept.select("srcid").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("every graft.syntax method equals the operator it forwards to") {
    val src = (1 to 60).map { i =>
      (i.toLong, Seq(1L, 14L, 40L)(i % 3), (i * 97 % 3072).toDouble, (i * 53 % 3080).toDouble,
        (i % 10) * 0.01, (i / 10) * 0.01, 15.0 + i % 7, 0.02 * (i % 5), i % 4 + 1, i % 6)
    }.toDF("srcid", "RCID", "xpos", "ypos", "ra", "dec", "mag", "clr", "OBSID", "grp")
    val meta = (1 to 4).map(o => (o, s"night$o", 26.0 + o * 0.1)).toDF("OBSID", "night", "zp")
    val cal = (0 to 20).map(j => (1000L + j, (j % 5) * 0.02, (j / 5) * 0.02, 26.0 + (j % 3) * 0.1))
      .toDF("calid", "cra", "cdec", "czp")
    val grains = Seq((1L, 300.0, 300.0, 400.0), (2L, 2000.0, 1500.0, 900.0))
      .toDF("gid", "gx", "gy", "gr")
    val side = Seq((1, "a"), (1, "a"), (2, "b")).toDF("OBSID", "tag")

    assertSame(src.queryDf("mag < @m and RCID == 14", Map("m" -> 19.0)),
      QueryDialect.query(src, "mag < @m and RCID == 14", Map("m" -> 19.0)))
    assertSame(src.selectObjects("clr > 0.03"), QueryDialect.query(src, "clr > 0.03"))
    assertSame(src.mergeMetadata(meta, Seq("night")),
      Joins.mergeMetadataToSources(src, meta, Seq("night"), "OBSID"))
    val labels = Clustering.dbscan(src.select("srcid", "xpos", "ypos"), "srcid", "xpos", "ypos", 400.0, 2)
    assertSame(src.clusterSources("srcid", "xpos", "ypos", 400.0, 2),
      src.join(labels.withColumnRenamed("cluster", "clusterID"), Seq("srcid")))
    assertSame(src.matchToCalibrators("srcid", "ra", "dec", cal, "calid", "cra", "cdec", 0.02),
      Spatial.nnJoinSphere(src, "srcid", "ra", "dec", cal, "calid", "cra", "cdec", 0.02))
    val (kept, rejected) = GroupOps.selectGroups(src, "grp", col("srcid") =!= 7L)
    assert(kept.count() > 0 && rejected.count() > 0)
    assertSame(src.selectClusters(col("srcid") =!= 7L, "grp"), kept)
    assertSame(src.rejectClusters(col("srcid") =!= 7L, "grp"), rejected)
    assertSame(src.calmag("mag", "clr", clrcoeff = Some("clr"), color1 = Some("mag"), color2 = Some("clr")),
      src.withColumn("cal_mag",
        Photometry.calMag(col("mag"), col("clr"), Some(col("clr")), Some(col("mag")), Some(col("clr")))))
    val fit = Odr.demingFit(src, col("clr"), col("mag") - col("clr"))
    assertSame(src.photometricSolution("g", col("clr"), col("mag") - col("clr")),
      src.withColumn("fit_zp_g", lit(fit.b0)).withColumn("sig_fit_zp_g", lit(fit.sb0))
        .withColumn("fit_clrcoeff_g", lit(fit.b1)).withColumn("sig_fit_clrcoeff_g", lit(fit.sb1)))
    val (camX, camY) = Coords.cameraCoord(col("RCID"), col("xpos"), col("ypos"))
    assertSame(src.computeCameraCoord(), src.withColumn("cam_xpos", camX).withColumn("cam_ypos", camY))
    val (ccdX, ccdY) = Coords.ccdCoord(col("RCID"), col("xpos"), col("ypos"), rotate = true)
    assertSame(src.computeCcdCoord(), src.withColumn("ccd_xpos", ccdX).withColumn("ccd_ypos", ccdY))
    val (inside, edges) = Coords.trimEdges(src, "xpos", "ypos", 200, 200)
    assert(inside.count() > 0 && edges.count() > 0)
    assertSame(src.trimEdges("xpos", "ypos", 200, 200), inside)
    assertSame(src.trimEdgesRejected("xpos", "ypos", 200, 200), edges)
    assertSame(src.tagDust("srcid", "xpos", "ypos", grains, "gid", "gx", "gy", "gr"),
      Spatial.thetaCircleJoin(src, "srcid", "xpos", "ypos", grains, "gid", "gx", "gy", "gr"))
    assertSame(src.addIrsaMeta(side, Seq("OBSID")), Joins.dedupJoin(src, side, Seq("OBSID")))
    assertSame(src.subtractDf(src.where(col("grp") === 0)), Tables.subtract(src, src.where(col("grp") === 0)))
    assertSame(src.outlierRmIqr("grp", col("mag"), col("clr"), 1.5, 3),
      Outliers.iqrOutlierRemoval(src, "grp", col("mag"), col("clr"), 1.5, 3)._1)
    assertSame(src.reindexSources("srcid", Seq("mag", "srcid")),
      Reindex.consecutiveIds(src, "srcid", Seq(col("mag"), col("srcid")), base = 0L))
  }

  test("training-pipeline chain: dedup groups + split") {
    val base = "the quick brown fox jumps over the lazy dog again and again for fun"
    val docs = Seq(
      (1L, base), (2L, base.replace("lazy", "sleepy")),
      (3L, "completely different content about spark catalyst optimizer"))
      .toDF("doc_id", "text")
    val out = docs.transform(Dedup.duplicateGroups(_, "doc_id", "text", threshold = 0.5, poly = true))
      .withColumn("split", Text.hashSplit(col("doc_id")))
    assert(out.columns.toSet == Set("doc_id", "canonical_id", "is_dup", "split"))
    assert(out.where(col("is_dup")).select("doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(out.select("split").distinct().count() >= 1)
  }

  test("curation chain: repetition + pii + packing fluent surface") {
    val docs = Seq(
      (1L, "a a a a mail me at bob@x.io now", "en"),
      (2L, "fresh words only here", "en"),
      (3L, "otra cosa distinta aqui mismo", "es"))
      .toDF("doc_id", "text", "lang")
    val text = col("text")
    val rep = docs.withColumn("ttr", Text.typeTokenRatio(text))
      .withColumn("dup_3gram_frac", Text.dupNgramFraction(text, 3))
      .withColumn("top_bigram_share", Text.topNgramShare(text, 2))
    assert(rep.columns.takeRight(3).toSeq ==
      Seq("ttr", "dup_3gram_frac", "top_bigram_share"))
    val pii = docs.select((col("*") +: Text.piiCounts(text)) :+ Text.scrubPii(text).as("scrubbed"): _*)
    assert(pii.where(col("n_email") > 0).select("doc_id").as[Long]
      .collect().toSeq == Seq(1L))
    assert(pii.where(col("doc_id") === 1L).select("scrubbed").as[String]
      .head().contains("<EMAIL>"))
    val packed = docs.transform(Text.packWindows(_, "doc_id", "text", "lang", budget = 4))
    assert(packed.groupBy("lang").count().count() == 2)
    val mixed = docs.transform(Text.balancedMix(_, "doc_id", "lang", Seq("en" -> 1, "es" -> 1)))
    assert(mixed.groupBy("lang").count().as[(String, Long)].collect().toMap ==
      Map("en" -> 1L, "es" -> 1L))
  }

  test("session/graph/contract fluent surface") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 100L),
      (1L, "2024-01-01 10:10:00", 101L),
      (1L, "2024-01-01 12:00:00", 102L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    assert(Temporal.sessionize(ev, "user_id", "ts", 1800, "event_id").count() == 2)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(Graph.pageRank(edges, 2).count() == 3)
    assert(Graph.triangleStats(edges).head.getAs[Long]("n_triangles") == 1L)
    val rep = Tables.contractReport(ev, Seq("uid_null" -> col("user_id").isNull))
    assert(rep.head.getAs[Boolean]("ok"))
    val docs = Seq((1L, "aaa bbb ccc"), (2L, "aaa bbb ccc"))
      .toDF("doc_id", "text")
    val w = Dedup.softWeights(docs, "doc_id", "text").collect()
    assert(w.forall(_.getAs[Double]("weight") == 0.5))
  }

  test("analytics fluent surface: pmi, grouped OLS, rolling anomaly, filtered ANN") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val pmi = Text.pmiCooccur(docs, "doc_id", "text", minPairDocs = 2).collect()
    assert(pmi.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("a", "b")))

    val pts = (1 to 50).map(i =>
      ("g", (i % 7).toDouble, (i % 3).toDouble, 1.0 + (i % 7) * 2.0))
      .toDF("grp", "x1", "x2", "y")
    val fit = Ols.olsFitPerGroup(pts, Seq("grp"), col("x1"), col("x2"), col("y")).head()
    assert(math.abs(fit.getAs[Double]("b1") - 2.0) < 1e-6)

    val ev = (0 until 6).map(i =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 10:0$i:00"), i.toLong,
        if (i == 5) 99.0 else (i % 2) + 1.0))
      .toDF("user_id", "ts", "event_id", "value")
    val anom = Temporal.rollingAnomaly(ev, "user_id", "ts", "event_id", "value",
      window = 8, minHistory = 4).where(col("is_anomaly")).collect()
    assert(anom.map(_.getLong(2)).toSeq == Seq(5L))

    val vecs = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(0.9f, 0.1f), 7), (3L, Array(1f, 0f), 8))
      .toDF("vec_id", "embedding", "label")
    val ann = Vectors.lshTopKFiltered(vecs, "vec_id", "embedding", "label", dim = 2, k = 1)
    assert(ann.collect().forall { r => // only same-label candidates appear
      Set((1L, 2L), (2L, 1L)).contains((r.getLong(0), r.getLong(1)))
    })
  }
}
