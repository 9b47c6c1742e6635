package graft

import org.apache.spark.sql.functions._

import graft.ArrayKernelSpec.{cosine, toDoubles}
import graft.operators.{Dedup, Text, Vectors}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps min id per content") {
    val df = Seq(
      (1L, "Hello World"), (2L, "hello world"), (3L, "other doc"),
      (4L, "HELLO WORLD")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .orderBy("kept_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("kept_id") == 1L && out(0).getAs[Long]("n_copies") == 3L)
    assert(out(1).getAs[Long]("kept_id") == 3L && out(1).getAs[Long]("n_copies") == 1L)
  }

  test("minhash LSH finds near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again for fun"
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = "completely different content about spark catalyst optimizer internals"
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.minhashVerifiedPairs(df, "doc_id", "text",
      threshold = 0.5, shingleSize = 5, numHashes = 8, bandSize = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("duplicate groups are transitive with min-id canonicals") {
    val base = "the quick brown fox jumps over the lazy dog again and again for fun"
    val df = Seq(
      (5L, base),
      (2L, base.replace("lazy", "sleepy")),   // ~ base
      (9L, base.replace("quick", "speedy")),  // ~ base, maybe not ~ 2
      (7L, "completely different content about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateGroups(df, "doc_id", "text", threshold = 0.5,
        shingleSize = 5, numHashes = 8, bandSize = 2, poly = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 4)
    // 2, 5, 9 form one group through the shared neighbor 5 -> canonical 2
    assert(out(5L) == ((2L, true)) && out(9L) == ((2L, true)))
    assert(out(2L) == ((2L, false)))          // canonical is not a dup
    assert(out(7L) == ((7L, false)))          // unrelated doc is its own group
  }

  test("simhash: near-duplicates are close in hamming distance") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu")
    val far = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sig = Dedup.simhash64(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
    assert(ham(sig(1L), sig(2L)) <= 16)
  }

  test("incrementalNearDups: batch vs existing, no self-pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again for fun"
    val existing = Seq((1L, base),
      (2L, "completely different content about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("lazy", "sleepy")),  // near-dup of existing 1
      (11L, base.replace("lazy", "sleepy")),  // also near-dup (and of 10 — but
                                              // batch-internal pairs must NOT count)
      (12L, "fresh unseen totally novel words on multimodal training pipelines"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(existing, batch, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bandSize = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(10L, 11L))
    assert(out(10L) == 1L && out(11L) == 1L) // matched existing 1 only
  }

  test("jaccard of identical and disjoint sets") {
    val df = Seq(("a b c", "a b c"), ("a b", "c d")).toDF("t1", "t2")
    val j = df.select(Text.jaccard(Text.tokens(col("t1")), Text.tokens(col("t2"))).as("j"))
      .as[Double].collect()
    assert(j(0) == 1.0 && j(1) == 0.0)
  }

  test("dupSpanCoverage: corpus-repeated 8-gram spans, short docs are 0") {
    val docs = Seq(
      (1L, "a b c d e f g h p q"),     // shares the 8-gram at pos 0 -> 8/10
      (2L, "z a b c d e f g h"),       // same 8-gram at pos 1 -> 8/9
      (3L, "k l m n o u v w x y"),     // all grams unique -> 0
      (4L, "s t u"))                   // shorter than 8 tokens -> 0
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, "doc_id", "text", n = 8)
      .select("doc_id", "n_tokens", "dup_span_fraction")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, f) => id -> ((n, f)) }.toMap
    assert(out(1L) == (10L, 0.8))
    assert(out(2L) == (9L, 0.888889)) // floor(8e6/9 + 0.5) / 1e6
    assert(out(3L) == (10L, 0.0))
    assert(out(4L) == (3L, 0.0))
  }

  test("segmentDedup drops corpus-duplicated segments, reassembles in order") {
    // 10-token "lines": L2 appears in three docs (aligned windows) ->
    // removed everywhere; unique lines survive in position order
    val l1 = (1 to 10).map(i => s"a$i").mkString(" ")
    val l2 = (1 to 10).map(i => s"dup$i").mkString(" ")
    val l3 = (1 to 10).map(i => s"b$i").mkString(" ")
    val l4 = (1 to 10).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, s"$l1 $l2"),       // keeps l1
      (2L, s"$l3 $l2 $l4"),   // keeps l3 + l4, order preserved
      (3L, l2),               // everything removed -> empty rebuild
      (4L, l4.replace("c", "z"))) // unique doc untouched
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", segTokens = 10)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") == l1)
    assert(out(0).getAs[Long]("n_removed") == 1L)
    assert(out(1).getAs[String]("clean_text") == s"$l3 $l4")
    assert(out(1).getAs[Double]("removed_fraction") == 0.333333)
    assert(out(2).getAs[String]("clean_text") == "")
    assert(out(2).getAs[Double]("removed_fraction") == 1.0)
    assert(out(3).getAs[Long]("n_removed") == 0L)
    assert(out(3).getAs[Double]("removed_fraction") == 0.0)
  }

}

class VectorsSpec extends SparkSpec {
  import spark.implicits._

  /** Planes for the sf0.001 embeddings at `bucketTarget`, from their
    * footer row count: what a registry query passes. */
  private def embPlanes(bucketTarget: Int): Int =
    Vectors.planesFor(graft.core.Tables.parquetRowCount(spark, sf001, "embeddings"), bucketTarget)

  test("cosine of known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal
      (Array(1.0f, 1.0f), Array(2.0f, 2.0f)),   // parallel
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f))   // opposite
    ).toDF("a", "b")
    val c = df.select(cosine(toDoubles(col("a")),
      toDoubles(col("b"))).as("c")).as[Double].collect()
    assert(math.abs(c(0)) < 1e-12)
    assert(math.abs(c(1) - 1.0) < 1e-12)
    assert(math.abs(c(2) + 1.0) < 1e-12)
  }

  test("brute-force top-k returns true nearest neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val top = Vectors.bruteForceTopK(q, "qid", "qv", vecs, "vec_id", "embedding", k = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(top == Set(1L, 4L))
  }

  test("LSH top-k recall vs brute force on real embeddings") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Vectors.bruteForceTopK(q, "qid", "qv", e, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = Vectors.lshTopK(e, "vec_id", "embedding", dim = 64, k = 5, planes = embPlanes(16))
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // multi-table OR-banding (8 tables, corpus-scaled planes) on
    // near-isotropic embeddings (max pairwise cosine ~0.5 — the hard
    // case for hyperplane LSH); must beat the r01 single-table bar.
    assert(recall > 0.3, s"recall=$recall")
  }

  test("NSW graph top-k: recall vs brute force, shape, no self-pairs") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Vectors.bruteForceTopK(q, "qid", "qv", e, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val nsw = Vectors.nswTopK(e, "vec_id", "embedding", dim = 64, k = 5,
        planes = embPlanes(Vectors.Nsw.BucketTarget))
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(!nsw.exists(p => p._1 == p._2), "self-pair leaked into NSW top-k")
    // per-query row bound: a window top-k can never over-return
    val perQ = nsw.groupBy(_._1).map(_._2.size)
    assert(perQ.max <= 5, s"over-returned: ${perQ.max}")
    val recall = (brute & nsw).size.toDouble / brute.size
    // graph search (NN-descent + beam) must beat plain OR-banding LSH's
    // floor on the same near-isotropic embeddings — the beam rescans
    // ~beam·m exact cosines per query where LSH only sees collisions
    // (floor raised 0.3→0.6 with the r14 m=14/bt=32/it=4 retune)
    assert(recall > 0.6, s"recall=$recall")
  }

  test("queryPred run == unfiltered run filtered after (r15 byte-identity)") {
    // the eval-subset optimization's contract: restricting the QUERY
    // side (probe/rank stages) must return byte-identical rows to
    // computing every query's top-k and discarding the rest — per-qid
    // results are independent and the candidate side/index build stays
    // the full corpus. Exercises all four indexes.
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => id % 3 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("cid"), col(df.columns.last))
        .collect().map(_.toString).sorted.toSeq
    // each full run's caches are freed before its filtered twin runs,
    // so the two are separate computations, not a cache read
    def same(all: => org.apache.spark.sql.DataFrame, sub: => org.apache.spark.sql.DataFrame) = {
      val expected = reclaimed(rows(all.where(pred(col("qid")))))
      assert(reclaimed(rows(sub)) == expected)
    }
    same(Vectors.lshTopK(e, "vec_id", "embedding", dim = 64, k = 4, planes = embPlanes(16)),
      Vectors.lshTopK(e, "vec_id", "embedding", dim = 64, k = 4, planes = embPlanes(16), queryPred = Some(pred)))
    val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 8)
    same(Vectors.ivfTopK(e, "vec_id", "embedding", cents, nProbe = 2, k = 4),
      Vectors.ivfTopK(e, "vec_id", "embedding", cents, nProbe = 2, k = 4, queryPred = Some(pred)))
    val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = 16)
    same(Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs, nProbe = 2, k = 4, rerank = 8),
      Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs,
        nProbe = 2, k = 4, rerank = 8, queryPred = Some(pred)))
    val nswPlanes = embPlanes(Vectors.Nsw.BucketTarget)
    same(Vectors.nswTopK(e, "vec_id", "embedding", dim = 64, k = 4, planes = nswPlanes),
      Vectors.nswTopK(e, "vec_id", "embedding", dim = 64, k = 4, planes = nswPlanes, queryPred = Some(pred)))
  }

  test("lshTopKFiltered == lshTopK run per label stratum (pre-filter exactness)") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val filtered = Vectors.lshTopKFiltered(e, "vec_id", "embedding", "label",
        dim = 64, k = 3, tables = 8, planes = 6)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    // composing the attribute into the candidate key must be EXACTLY
    // equivalent to filtering the corpus to the stratum first
    val labels = e.select("label").distinct().as[Int].collect()
    val perStratum = labels.flatMap { l =>
      Vectors.lshTopK(e.where(col("label") === l), "vec_id", "embedding",
          dim = 64, k = 3, planes = 6, tables = 8)
        .select("qid", "cid").as[(Long, Long)].collect()
    }.toSet
    assert(filtered == perStratum)
    assert(filtered.nonEmpty)
  }

  test("minhash poly family finds the same near-dup as md5 family") {
    val base = "the quick brown fox jumps over the lazy dog again and again for fun"
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = "completely different content about spark catalyst optimizer internals"
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.minhashVerifiedPairs(df, "doc_id", "text",
      threshold = 0.5, shingleSize = 5, numHashes = 8, bandSize = 2, poly = true)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("NearestCells compiled kernel matches a plain Scala argmin") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings").limit(100)
    val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 4)
    val got = e.select(col("vec_id"),
      graft.functions.Expressions.nearestCells(col("embedding"), cents, 2).as("cells"))
      .as[(Long, Seq[Int])].collect()
    val vecs = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    got.foreach { case (id, cells) =>
      val v = vecs(id)
      val ds = cents.map { c =>
        c.zip(v.map(_.toDouble)).map { case (ci, xi) => (xi - ci) * (xi - ci) }.sum
      }
      val expected = ds.zipWithIndex.sortBy { case (d, i) => (d, i) }.take(2).map(_._2).toSeq
      assert(cells == expected, s"id=$id got=$cells expected=$expected")
    }
  }

  test("kmeansReport: sizes partition the corpus, means match brute force") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 4)
    val rep = Vectors.kmeansReport(e, "vec_id", "embedding", cents)
      .orderBy("cell").collect()
    val total = e.count()
    assert(rep.map(_.getAs[Long]("n")).sum == total)
    assert(rep.forall(_.getAs[Double]("mean_dist") >= 0.0))
    // brute-force check on the full (small) corpus: assignment argmin
    // + quantized mean distance per cluster
    val vecs = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val byCell = vecs.groupBy { case (_, v) =>
      val ds = cents.map { c =>
        var d = 0.0; var i = 0
        while (i < c.length) { val t = v(i).toDouble - c(i); d += t * t; i += 1 }
        d
      }
      ds.zipWithIndex.minBy { case (d, i) => (d, i) }._2
    }
    rep.foreach { r =>
      val cell = r.getAs[Long]("cell").toInt
      val members = byCell(cell)
      assert(r.getAs[Long]("n") == members.length)
      val qdists = members.map { case (_, v) =>
        var d = 0.0; var i = 0
        while (i < cents(cell).length) {
          val t = v(i).toDouble - cents(cell)(i); d += t * t; i += 1
        }
        math.floor(math.sqrt(d) * 1e6 + 0.5) / 1e6
      }
      val mean = (qdists.map(x => math.round(x * 1e6)).sum.toDouble /
        qdists.length) / 1e6
      assert(math.abs(r.getAs[Double]("mean_dist") - mean) < 1e-12,
        s"cell=$cell got=${r.getAs[Double]("mean_dist")} expected=$mean")
    }
  }

  test("compiled CosineSim == composable zip_with/aggregate cosine") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings").limit(100)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb")),
        col("b") === col("a") + 1)
    val rows = pairs.select(
      graft.functions.Expressions.cosineSim(col("va"), col("vb")).as("fast"),
      cosine(toDoubles(col("va")), toDoubles(col("vb"))).as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("IVF top-k recall beats LSH on these embeddings") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Vectors.bruteForceTopK(q, "qid", "qv", e, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 4)
    val ivf = Vectors.ivfTopK(e, "vec_id", "embedding", cents, nProbe = 2, k = 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // probing half the lists must recover well over half the true
    // neighbors (near neighbors share coarse cells)
    assert(recall > 0.5, s"recall=$recall")
  }

  test("ss_recall_methods: one row per method, recall floors and bounds hold") {
    val rows = SparkEntry.queries("ss_recall_methods")(spark, sf01)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("lsh", "ivf", "ivfpq", "hnsw"), rows.keySet)
    // every method grades the SAME query subset
    assert(rows.values.map(_._1).toSet.size == 1, rows)
    rows.foreach { case (m, (nq, mean, perfect)) =>
      assert(nq > 0 && mean >= 0.0 && mean <= 1.0, s"$m: $mean")
      assert(perfect >= 0 && perfect <= nq, s"$m: $perfect/$nq")
    }
    // operating floors on the real embeddings at sf0.01, raised at
    // r14 after the RecallProbe retune (measured 0.69/0.68/0.56/0.97
    // for ivf/ivfpq/lsh/hnsw; sf0.1 reads 0.63/0.63/0.25/0.79).
    // Floors leave headroom — they catch collapses like an untrained
    // codebook or a broken probe, not noise.
    assert(rows("ivf")._2 > 0.5, s"ivf recall ${rows("ivf")._2}")
    assert(rows("ivfpq")._2 > 0.5, s"ivfpq recall ${rows("ivfpq")._2}")
    assert(rows("lsh")._2 > 0.2, s"lsh recall ${rows("lsh")._2}")
    assert(rows("hnsw")._2 > 0.8, s"hnsw recall ${rows("hnsw")._2}")
  }

  test("ss_rrf_fusion == independent Scala RRF over the two index rankings") {
    import graft.operators.Vectors
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val n = e.count()
    val cents = Vectors.trainIvfCentroids(e, "embedding",
      nCentroids = Vectors.cellsFor(n))
    // rank both index outputs EXACTLY as the query does (cosine desc,
    // cid), then fuse in plain Scala — map arithmetic, no Spark
    def ranks(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      df.select("qid", "cid", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.flatMap { case (q, rs) =>
          rs.sortBy(t => (-t._3, t._2)).zipWithIndex.toSeq
            .map { case (t, i) => (q, t._2) -> (i + 1) }
        }.toMap
    val lsh = ranks(Vectors.lshTopK(e, "vec_id", "embedding", dim = 64,
      k = 10, planes = Vectors.planesFor(n, 16), tables = 8))
    val ivf = ranks(Vectors.ivfTopK(e, "vec_id", "embedding", cents,
      nProbe = Vectors.Ivf.NProbe, k = 10))
    val fusedRef = (lsh.keySet ++ ivf.keySet).map { key =>
      key -> (lsh.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        + ivf.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0))
    }.toMap
    val topRef = fusedRef.groupBy(_._1._1).flatMap { case (q, m) =>
      m.toSeq.sortBy { case ((_, cid), rrf) => (-rrf, cid) }.take(5).zipWithIndex
        .map { case (((_, cid), rrf), i) => (q, cid) -> (rrf, i + 1L) }
    }
    val got = SparkEntry.queries("ss_rrf_fusion")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(got.nonEmpty && got == topRef,
      s"diff: ${(got.toSet diff topRef.toSet).take(3)} | ${(topRef.toSet diff got.toSet).take(3)}")
    // fusion must actually mix: some fused pair carries both terms
    assert(got.keys.exists(k => lsh.contains(k) && ivf.contains(k)))
    // and each list contributes something the other missed
    assert(got.keys.exists(k => lsh.contains(k) && !ivf.contains(k)))
  }

  test("IVF training is write-order-independent: cluster-sorted corpus keeps recall") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    // a corpus written sorted by its position in embedding space — the
    // case where a limit()-based "sample" reads one corner only and
    // recall quietly collapses (VERDICT r04 #3). sampleSize is forced
    // well below the corpus size so the sampling policy actually bites.
    val sorted = e.orderBy(element_at(col("embedding"), 1))
    val cents = Vectors.trainIvfCentroids(sorted, "embedding",
      nCentroids = 4, sampleSize = 64)
    val unsortedCents = Vectors.trainIvfCentroids(e, "embedding",
      nCentroids = 4, sampleSize = 64)
    // hash-ordered sampling makes training independent of write order
    assert(java.util.Arrays.deepEquals(
      cents.asInstanceOf[Array[AnyRef]], unsortedCents.asInstanceOf[Array[AnyRef]]))
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Vectors.bruteForceTopK(q, "qid", "qv", e, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Vectors.ivfTopK(e, "vec_id", "embedding", cents, nProbe = 2, k = 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall") // same bound as the unsorted case
  }

  test("LSH near-dup pairs: precision 1 by construction, useful recall") {
    val e = core.Tables.load(spark, sf001, "embeddings")
    val n = e.count().toInt
    // brute-force truth: all pairs with round-6 cosine >= 0.4
    val a = e.select(col("vec_id").as("a"), col("embedding").as("_av"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("_bv"))
    val truth = a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(graft.functions.Expressions.cosineSim(col("_av"), col("_bv")), 6).as("c"))
      .where(col("c") >= 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val got = Vectors.lshNearDupPairs(e, "vec_id", "embedding",
        dim = 64, threshold = 0.4, tables = 8, planes = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    // OR-banding collision probability 1-(1-(1-θ/π)^6)^8 predicts
    // recall ≈ 0.41 at the cos=0.4 boundary (θ≈66°) and ≥ 0.9 for
    // genuinely near-dup pairs (cos ≥ 0.8, θ ≤ 37°) — assert both
    // regimes rather than one arbitrary blended number
    assert(truth.isEmpty || got.size.toDouble / truth.size >= 0.25,
      s"recall ${got.size}/${truth.size} on $n vectors")
    val truthHigh = a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(graft.functions.Expressions.cosineSim(col("_av"), col("_bv")), 6).as("c"))
      .where(col("c") >= 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(truthHigh.isEmpty ||
      (got & truthHigh).size.toDouble / truthHigh.size >= 0.8,
      s"high-sim recall ${(got & truthHigh).size}/${truthHigh.size}")
  }

  test("decontaminate: only docs sharing a word n-gram with bench are flagged") {
    val bench = Seq(
      (100L, "the capital of france is paris obviously"),
      (101L, "unrelated benchmark question about chemistry"))
      .toDF("doc_id", "text")
    val train = Seq(
      // contains bench 100's 4-gram "the capital of france" (+3 more shared)
      (1L, "we know the capital of france is paris indeed"),
      // shares words but no 4-token run
      (2L, "paris france capital the of obviously"),
      (3L, "totally clean training document here"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, "doc_id", "text", n = 4)
      .as[(Long, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    // doc 1 shares exactly the 3 grams inside the common run
    // "the capital of france is paris"; docs 2 and 3 share none
    assert(out == Map(1L -> ((3L, 1L))))
  }

  test("quantizeInt8: error bounded by scale/2, hand-checked values") {
    val d = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // all-zero vector stays finite
      .toDF("vec_id", "embedding")
    val out = Vectors.quantizeInt8(d, "vec_id", "embedding", dim = 4)
      .orderBy("vec_id").collect()
    val r1 = out(0)
    // scale = 1/127; q = [127, -63 (floor(-63.5+0.5)), 32 (floor(31.75+0.5)), 0]
    assert(math.abs(r1.getAs[Double]("scale") - 1.0 / 127) < 1e-6)
    assert(r1.getAs[Long]("max_q") == 127L)
    assert(r1.getAs[Double]("max_abs_err") <= 1.0 / 127 / 2 + 1e-6)
    val r2 = out(1)
    assert(r2.getAs[Long]("max_q") == 0L && r2.getAs[Double]("max_abs_err") == 0.0)
    // real corpus: every vector's error within the half-step bound
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val q = Vectors.quantizeInt8(e, "vec_id", "embedding", dim = 64)
    assert(q.where(col("max_abs_err") > col("scale") / 2 + 1e-6).count() == 0)
    assert(q.where(col("max_q") > 127).count() == 0)
  }

  test("semanticDupGroups: cosine-connected components get min-id canonicals") {
    // 0 ≈ 1 ≈ 2 (one chain-connected group), 3 orthogonal
    val vecs = Seq(
      (0L, Array(1.0f, 0.02f, 0f, 0f)),
      (1L, Array(1.0f, 0.00f, 0f, 0f)),
      (2L, Array(0.98f, -0.02f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDupGroups(vecs, "vec_id", "embedding",
        dim = 4, threshold = 0.9, tables = 4, planes = 2)
      .orderBy("vec_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((0L, 0L, false), (1L, 0L, true), (2L, 0L, true), (3L, 3L, false)))
  }

  test("dupGroupStats: sizes partition the corpus") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val groups = Dedup.duplicateGroups(docs, "doc_id", "text",
      threshold = 0.25, numHashes = 8, bandSize = 4, poly = true)
    // freed here: the identity test below runs this composition again
    val stats = reclaimed(Dedup.dupGroupStats(groups).collect())
    val total = stats.map(_.getAs[Long]("n_docs")).sum
    assert(total == docs.count()) // every doc is in exactly one group
    assert(stats.exists(r => r.getAs[Long]("group_size") > 1)) // dedup actually bit
    stats.foreach(r => assert(
      r.getAs[Long]("n_docs") == r.getAs[Long]("group_size") * r.getAs[Long]("n_groups")))
  }

  test("dupGroupSizeStats == dupGroupStats ∘ duplicateGroups (r16 fused path identity)") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    // freed before the fused run, which then computes its own frames
    val unfused = reclaimed(Dedup.dupGroupStats(
        Dedup.duplicateGroups(docs, "doc_id", "text",
          threshold = 0.25, numHashes = 8, bandSize = 4, poly = true))
      .orderBy("group_size")
      .as[(Long, Long, Long)].collect().toSeq)
    val fused = Dedup.dupGroupSizeStats(docs, "doc_id", "text",
        threshold = 0.25, numHashes = 8, bandSize = 4, poly = true)
      .orderBy("group_size")
      .as[(Long, Long, Long)].collect().toSeq
    assert(fused == unfused)
    assert(fused.exists(_._1 == 1L)) // the singleton bucket is exercised
  }

  test("PQ codes are in range and training is write-order-independent") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = 16)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) && cbs.forall(_.forall(_.length == 8)))
    // same codebooks from a space-sorted rewrite of the corpus (the
    // hash-ordered-sample guarantee extends to the PQ trainer)
    val sorted = e.orderBy(element_at(col("embedding"), 1))
    val cbsSorted = Vectors.trainPqCodebooks(sorted, "embedding", dim = 64, m = 8, kSub = 16)
    (cbs, cbsSorted).zipped.foreach { (a, b) =>
      assert(java.util.Arrays.deepEquals(
        a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]]))
    }
    val codes = e.select(Vectors.pqCodes(col("embedding"), cbs).as("c"))
      .as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("PQ encode matches a plain Scala per-subspace argmin") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings").limit(100)
    val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = 16)
    val got = e.select(col("vec_id"), Vectors.pqCodes(col("embedding"), cbs).as("c"))
      .as[(Long, Seq[Int])].collect()
    val vecs = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    got.foreach { case (id, cs) =>
      val v = vecs(id).map(_.toDouble)
      cs.zipWithIndex.foreach { case (code, j) =>
        val sub = v.slice(j * 8, (j + 1) * 8)
        val dists = cbs(j).map(c => c.zip(sub).map { case (ci, xi) => (xi - ci) * (xi - ci) }.sum)
        val expected = dists.zipWithIndex.minBy { case (d, i) => (d, i) }._2
        assert(code == expected, s"id=$id j=$j got=$code expected=$expected")
      }
    }
  }

  test("IVF-PQ top-k recall vs brute force on real embeddings") {
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Vectors.bruteForceTopK(q, "qid", "qv", e, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 4)
    val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = 16)
    val adc = Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs, nProbe = 2, k = 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val adcRecall = (brute & adc).size.toDouble / brute.size
    // these synthetic embeddings are near-isotropic — the hard case
    // for 8×16 codebooks; ADC alone is a shortlist generator here
    assert(adcRecall > 0.15, s"adcRecall=$adcRecall")
    // the deployment shape: exact rerank of the ADC top-50 shortlist
    // recovers most of the IVF probe ceiling (~0.71 on this corpus)
    val reranked = Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs,
        nProbe = 2, k = 5, rerank = 50)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val rrRecall = (brute & reranked).size.toDouble / brute.size
    assert(rrRecall > 0.55, s"rrRecall=$rrRecall")
    assert(rrRecall > adcRecall + 0.2, s"rerank must add recall: $adcRecall -> $rrRecall")
  }
}

class SemanticDeconSpec extends SparkSpec {
  import spark.implicits._

  test("semanticDecontaminate flags cosine-close cross-frame pairs only") {
    // bench vector v; train has an identical copy (cos 1.0), a noisy
    // near copy, and an orthogonal vector (cos 0)
    val v = Array.fill(8)(1.0f)
    val near = Array.tabulate(8)(i => if (i == 0) 0.9f else 1.0f)
    val orth = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val train = Seq((1L, v), (2L, near), (3L, orth))
      .toDF("vec_id", "embedding")
    val bench = Seq((100L, v)).toDF("vec_id", "embedding")
    val out = Vectors.semanticDecontaminate(train, bench, "vec_id",
        "embedding", dim = 8, threshold = 0.9, tables = 8, planes = 2)
      .orderBy("vec_id").collect()
    val ids = out.map(_.getAs[Long]("vec_id")).toSet
    assert(ids.contains(1L), s"identical vector not flagged: ${out.mkString}")
    assert(!ids.contains(3L), "orthogonal vector wrongly flagged")
    val hit = out.find(_.getAs[Long]("vec_id") == 1L).get
    assert(hit.getAs[Double]("max_cosine") == 1.0)
    assert(hit.getAs[Long]("n_bench_hits") == 1L)
  }

  test("semanticDecontaminate: empty bench frame flags nothing") {
    val train = Seq((1L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val bench = train.where(lit(false))
    assert(Vectors.semanticDecontaminate(train, bench, "vec_id",
      "embedding", dim = 8, threshold = 0.5).isEmpty)
  }
}
