package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Clustering, Dedup, Temporal, Text, Vectors}

/** Degenerate-input behavior: empty sides, empty corpora, empty
  * graphs. An engine operator must return a sane empty (or
  * null-padded) result, never throw, when a filter upstream happens
  * to drain its input. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def ts(c: String) = to_timestamp(col(c))

  test("asofJoin: empty right side -> all left rows, null payload") {
    val left = Seq((1L, "2024-01-01 10:00:00", 100L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", ts("ts_s")).drop("ts_s")
    val right = left.where(lit(false))
      .withColumn("value", lit(0.0))
    val out = Temporal.asofJoin(left, right, "user_id", "ts",
      Seq("event_id", "value"), "event_id").collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("value_r")))
  }

  test("rangeJoin: empty intervals -> empty result") {
    val pts = Seq((1L, "2024-01-01 10:00:00")).toDF("pid", "ts_s")
      .withColumn("ts", ts("ts_s")).drop("ts_s")
    val ivs = pts.where(lit(false))
      .select(col("pid").as("iid"), col("ts").as("w_start"), col("ts").as("w_end"))
    assert(Temporal.rangeJoin(pts, "ts", ivs, "w_start", "w_end", 60L).count() == 0)
  }

  test("dbscan and connectedComponents on empty input") {
    // the driver path, then the distributed one (broadcasting off)
    for (session <- Seq(spark, noBroadcast)) {
      val pts = session.createDataFrame(Seq((1L, 0.0, 0.0))).toDF("id", "x", "y").where(lit(false))
      for (minSamples <- Seq(1, 2))
        assert(Clustering.dbscan(pts, "id", "x", "y", 1.0, minSamples).count() == 0)
    }
    val nodes = Seq(1L).toDF("_id").where(lit(false))
    val edges = Seq((1L, 2L)).toDF("_a", "_b").where(lit(false))
    assert(Clustering.connectedComponents(nodes, edges).count() == 0)
  }

  test("r11b operators on empty/degenerate input") {
    val docs = Seq((1L, "x", "en", "s")).toDF("doc_id", "text", "lang", "source")
      .where(lit(false))
    assert(Text.dsirWeights(docs, "doc_id", "text", "lang", "en").count() == 0)
    assert(Text.tokenBudgetMix(docs, "doc_id", "text", "source", 100L).count() == 0)
    assert(Dedup.simhashHamPairs(docs, "doc_id", "text").count() == 0)
    val vecs = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding").where(lit(false))
    assert(graft.operators.Vectors.mipsTopK(vecs, "vec_id", "embedding",
      dim = 2, k = 1, nHint = 1).count() == 0)
    // empty STRING (not empty frame): zero entropy, zero TF vector
    val one = Seq((1L, "")).toDF("doc_id", "text")
    val r = one.select(Text.charEntropy(col("text")).as("h"),
      Text.hashedTf(col("text"), 8).as("v")).collect()(0)
    assert(r.getDouble(0) == 0.0)
    assert(r.getSeq[Double](1).forall(_ == 0.0))
  }

  test("r12 operators on empty/degenerate input") {
    val docs = Seq((1L, "x", "s")).toDF("doc_id", "text", "source")
      .where(lit(false))
    // BPE training on an empty corpus: no pairs, empty merge table;
    // apply then emits nothing
    assert(Text.bpeTrain(docs, "text", merges = 3).count() == 0)
    assert(Text.bpeApply(docs, "doc_id", "text", merges = 3).count() == 0)
    assert(Dedup.substringDedup(docs, "doc_id", "text").count() == 0)
    assert(Dedup.cdcDedup(docs, "doc_id", "text").count() == 0)
    // LR on an empty corpus: empty grid -> theta stays zero, empty
    // holdout -> all-zero dense confusion spine (never a crash)
    val cm = graft.ml.LogReg.lrQualityEval(docs, "doc_id", "text")
      .orderBy("label", "label_pred")
      .as[(Int, Int, Long)].collect().toSeq
    assert(cm == Seq((0, 0, 0L), (0, 1, 0L), (1, 0, 0L), (1, 1, 0L)), cm.toString)
    // k-core of an empty graph
    val e = Seq((1L, 2L)).toDF("src", "dst").where(lit(false))
    assert(graft.operators.Graph.kcorePeel(e, 2, 2).count() == 0)
    // streaming attribution over an empty frame
    val ev = Seq((1L, new java.sql.Timestamp(0L), 1L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .where(lit(false))
    assert(graft.streaming.Streams.attributionStream(ev).count() == 0)
  }

  test("r14 operators on empty/degenerate input") {
    val docs = Seq((1L, "x", "s")).toDF("doc_id", "text", "source")
      .where(lit(false))
    // streaming ingest gate: empty stream -> no state, no rows
    assert(graft.streaming.Streams.exactIngestGate(
      docs.select("doc_id", "text")).count() == 0)
    // boosted stumps on an empty corpus: empty grid -> prior-only
    // model, empty holdout -> all-zero dense confusion spine
    val cm = graft.ml.Boost.boostQualityEval(docs, "doc_id", "text")
      .orderBy("label", "label_pred")
      .as[(Int, Int, Long)].collect().toSeq
    assert(cm == Seq((0, 0, 0L), (0, 1, 0L), (1, 0, 0L), (1, 1, 0L)), cm.toString)
    // isotonic calibration on an empty corpus: no occupied bins,
    // empty curve, no crash anywhere in featurize/train/fit
    assert(graft.ml.Isotonic.calibrationEval(docs, "doc_id", "text").count() == 0)
    // bootstrap CI on a corpus with ZERO purchase events (ADVICE r14:
    // the crossJoin form dropped the obs row here while the oracle's
    // scalar subqueries kept it with NULL CIs): one row, NULL mean/CIs
    val ev = Seq((1L, new java.sql.Timestamp(0L), 1L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ci = QueriesAnalytics.bootstrapCi(ev).collect()
    assert(ci.length == 1, s"expected 1 obs row, got ${ci.length}")
    assert(ci(0).getLong(0) == 0L && ci(0).isNullAt(2) &&
      ci(0).isNullAt(3) && ci(0).isNullAt(4), ci(0).toString)
    // and on a fully empty frame: same single NULL-CI obs row
    val ciE = QueriesAnalytics.bootstrapCi(ev.where(lit(false))).collect()
    assert(ciE.length == 1 && ciE(0).getLong(0) == 0L && ciE(0).isNullAt(3))
    // Kaplan-Meier on an empty frame: no viewers -> empty curve
    assert(QueriesAnalytics.survivalKm(ev.where(lit(false))).count() == 0)
    // ... and with viewers but no purchases: every user censored at the
    // observation end, survival stays 1.0 on every emitted step
    val km = QueriesAnalytics.survivalKm(ev).collect()
    assert(km.forall(_.getDouble(4) == 1.0), km.mkString(","))
  }

  test("r13: NSW graph ANN on empty/degenerate input") {
    val vecs = Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    // empty corpus: no buckets, no graph, no beams -> empty, no throw
    assert(Vectors.nswTopK(vecs.where(lit(false)), "vec_id", "embedding",
      dim = 64, k = 3, nHint = 2).count() == 0)
    // single vector: no candidate pairs at any phase -> empty
    assert(Vectors.nswTopK(vecs, "vec_id", "embedding", dim = 64, k = 3,
      nHint = 2).count() == 0)
    // bloom incremental: empty existing -> every batch doc a
    // definitive miss; empty batch -> empty report
    val docs1 = Seq((1L, "x")).toDF("doc_id", "text")
    val bl = Dedup.bloomIncremental(docs1.where(lit(false)), docs1,
      "doc_id", "text", nHint = 2).collect()
    assert(bl.length == 1 && !bl(0).getBoolean(1) && !bl(0).getBoolean(2))
    assert(Dedup.bloomIncremental(docs1, docs1.where(lit(false)),
      "doc_id", "text", nHint = 2).count() == 0)
  }

  test("text relevance on an empty corpus") {
    val docs = Seq((1L, "x", "en")).toDF("doc_id", "text", "lang").where(lit(false))
    assert(Text.tfIdfTopK(docs, "doc_id", "text", 3).count() == 0)
    assert(Text.bm25TopK(docs, "doc_id", "text", Seq("x"), 5).count() == 0)
    assert(Text.vocabTopK(docs, "doc_id", "text", 5).count() == 0)
    assert(Text.stratifiedSample(docs, "doc_id", "lang", Seq("en" -> 500)).count() == 0)
    assert(Dedup.exact(docs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5, poly = true).count() == 0)
  }

  test("new curation ops: empty sides never throw") {
    val docs = Seq((1L, "a b c d e f", "en")).toDF("doc_id", "text", "lang")
    val none = docs.where(lit(false))
    // decontamination: empty bench -> nothing flagged; empty train -> empty
    assert(Dedup.decontaminate(docs, none, "doc_id", "text").count() == 0)
    assert(Dedup.decontaminate(none, docs, "doc_id", "text").count() == 0)
    // incremental dedup: empty existing or empty batch -> empty
    assert(Dedup.incrementalNearDups(none, docs, "doc_id", "text", 0.2).count() == 0)
    assert(Dedup.incrementalNearDups(docs, none, "doc_id", "text", 0.2).count() == 0)
    // packing / mixing / MAD on empty frames -> empty, no throw
    assert(Text.packWindows(none, "doc_id", "text", "lang", 8).count() == 0)
    assert(Text.balancedMix(none, "doc_id", "lang", Seq("en" -> 1)).count() == 0)
    assert(Text.temperatureMix(none, "doc_id", "lang", 0.5).count() == 0)
    assert(Text.packReport(none, "doc_id", "text", "lang", 8).count() == 0)
    assert(Text.commonnessScore(none, "doc_id", "text").count() == 0)
    assert(graft.operators.Skew.skewReport(none, "lang").count() == 0)
    assert(Dedup.dupGroupStats(
      Dedup.duplicateGroups(none, "doc_id", "text", 0.5)).count() == 0)
    assert(graft.operators.Outliers.madOutliers(
      Seq((1L, "g", 1.0)).toDF("id", "k", "v").where(lit(false)),
      Seq("k"), col("v"), 3.0).count() == 0)
  }

  test("sessionize: empty input and single-event users") {
    val ev = Seq((1L, "2024-01-01 10:00:00", 100L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", ts("ts_s")).drop("ts_s")
    assert(Temporal.sessionize(ev.where(lit(false)), "user_id", "ts",
      1800, "event_id").count() == 0)
    val one = Temporal.sessionize(ev, "user_id", "ts", 1800, "event_id").collect()
    assert(one.length == 1 &&
      one(0).getAs[Long]("n_events") == 1L &&
      one(0).getAs[Long]("duration_us") == 0L &&
      one(0).getAs[Long]("session_id") == 1L)
  }

  test("softWeights: empty corpus -> empty; all-unique corpus -> weight 1") {
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(Dedup.softWeights(docs.where(lit(false)), "doc_id", "text").count() == 0)
    val w = Dedup.softWeights(docs, "doc_id", "text").collect()
    assert(w.forall(_.getAs[Double]("weight") == 1.0))
  }

  test("overlap join, triangle census, degree dist: empty inputs") {
    val iv = Seq((1L, "2024-01-01 10:00:00", "2024-01-01 11:00:00"))
      .toDF("iid", "s_s", "e_s")
      .withColumn("a_start", ts("s_s")).withColumn("a_end", ts("e_s"))
      .drop("s_s", "e_s")
    val none = iv.where(lit(false))
      .select(col("iid").as("jid"), col("a_start").as("b_start"),
        col("a_end").as("b_end"))
    assert(Temporal.intervalOverlapJoin(iv, "a_start", "a_end",
      none, "b_start", "b_end", 1800L).count() == 0)
    val noEdges = Seq((1L, 2L)).toDF("src", "dst").where(lit(false))
    val tri = graft.operators.Graph.triangleStats(noEdges).collect()(0)
    assert(tri.getAs[Long]("n_triangles") == 0L &&
      tri.getAs[Double]("global_cc") == 0.0)
    assert(graft.operators.Graph.degreeDistribution(noEdges).count() == 0)
  }

  test("lshQualityReport: empty corpus and no-candidate corpus") {
    val docs = Seq((1L, "first unique text here about exchanges"),
      (2L, "second entirely different words on partitions"))
      .toDF("doc_id", "text")
    assert(Dedup.lshQualityReport(docs.where(lit(false)), "doc_id", "text")
      .count() == 0)
    // dissimilar docs: no band collision -> empty report, no throw
    assert(Dedup.lshQualityReport(docs, "doc_id", "text").count() == 0)
  }

  test("resampleDaily: empty input -> empty, no collect crash; LOCF fills gaps") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 100L, 5.0),
      (1L, "2024-01-03 10:00:00", 101L, 7.0))
      .toDF("user_id", "ts_s", "event_id", "value")
      .withColumn("ts", ts("ts_s")).drop("ts_s")
    assert(Temporal.resampleDaily(ev.where(lit(false)), "user_id", "ts",
      "value", "event_id").count() == 0)
    val out = Temporal.resampleDaily(ev, "user_id", "ts", "value", "event_id")
      .orderBy("day").collect()
    assert(out.length == 3)                                 // 3-day spine
    assert(out(1).getAs[Long]("n_events") == 0L)            // gap day
    assert(out(1).getAs[Double]("ffill_value") == 5.0)      // carried forward
    assert(out(2).getAs[Long]("cum_events") == 2L)
    assert(out(2).getAs[Double]("ffill_value") == 7.0)
  }

  test("pmiCooccur: empty corpus and single-doc corpus never throw") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Text.pmiCooccur(empty, "doc_id", "text").count() == 0)
    // one doc: every pair has c12 = df1 = df2 = N = 1 -> pmi = 0
    val one = Seq((1L, "p q")).toDF("doc_id", "text")
    val rows = Text.pmiCooccur(one, "doc_id", "text", minPairDocs = 1).collect()
    assert(rows.length == 1 && rows.head.getDouble(3) == 0.0)
  }

  test("lshTopKFiltered: empty corpus and all-distinct attrs are sane") {
    import graft.operators.Vectors
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Vectors.lshTopKFiltered(empty, "vec_id", "embedding", "label",
      dim = 4, k = 3).count() == 0)
    // every vector its own stratum -> no candidates at all
    val solo = Seq((1L, Array(1f, 0f, 0f, 0f), 1), (2L, Array(0f, 1f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    assert(Vectors.lshTopKFiltered(solo, "vec_id", "embedding", "label",
      dim = 4, k = 3).count() == 0)
  }

  test("deleteCommit with zero matching keys leaves reads unchanged") {
    import graft.sources.Snapshots
    val tdir = tempDir("graft_snap_edge").toString
    val base = (0L until 16L).map(k => (k, k)).toDF("k", "v")
    val m1 = Snapshots.commit(base, tdir, 1, pmod(col("k"), lit(2)), nBuckets = 2)
    val m2 = Snapshots.deleteCommit(base.where(lit(false)), tdir, 2, "k", m1)
    assert(m2.deletes.size == 1)
    assert(Snapshots.read(spark, m2).count() == 16)
  }

  test("profile on an empty table still reports one row per column") {
    val df = Seq((1L, 2.0)).toDF("a", "b").where(lit(false))
    val out = Tables.profile(df, Seq("a", "b")).collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getAs[Long]("n_rows") == 0L))
    assert(out.forall(_.isNullAt(out.head.fieldIndex("min_val"))))
  }
}
