package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Text}

/** r11b additions: DSIR importance resampling + SimHash hamming-block
  * near-dup pairs. Both get an independent sequential reference
  * implementation here (not the operator's own plan), so the specs
  * catch wiring bugs the oracle mirror could share.
  */
class DsirSimhashHamSpec extends SparkSpec {
  import spark.implicits._

  // --- sequential reference for the DSIR pipeline -------------------
  private val P = 1000000007L

  private def refBuckets(text: String, nBuckets: Int): Seq[Int] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").toSeq.filter(_.nonEmpty)
      .map { tok =>
        var c = 0L
        tok.foreach(ch => c = (c * 31 + ch) % P)
        (c % nBuckets).toInt
      }

  private def refDsir(docs: Seq[(Long, String, String)], target: String,
                      nBuckets: Int): Map[Long, (Long, Double)] = {
    val perDoc = docs.map { case (id, lang, text) =>
      (id, lang, refBuckets(text, nBuckets))
    }
    val cr = new Array[Long](nBuckets)
    val ct = new Array[Long](nBuckets)
    perDoc.foreach { case (_, lang, bks) =>
      bks.foreach { b => cr(b) += 1; if (lang == target) ct(b) += 1 }
    }
    val tr = cr.sum; val tt = ct.sum
    val lrm = Array.tabulate(nBuckets) { b =>
      math.floor((math.log((ct(b) + 1.0) / (tt + nBuckets.toDouble))
                - math.log((cr(b) + 1.0) / (tr + nBuckets.toDouble))) * 1e6 + 0.5).toLong
    }
    perDoc.map { case (id, _, bks) =>
      id -> (bks.size.toLong, bks.map(lrm).sum / 1e6)
    }.toMap
  }

  test("dsirWeights matches a sequential reference implementation exactly") {
    val docs = Seq(
      (1L, "en", "the cat and the dog walk to the park"),
      (2L, "en", "a dog and a cat play in the sun"),
      (3L, "de", "der hund und die katze gehen zum park"),
      (4L, "de", "eine katze und ein hund spielen gern"),
      (5L, "xx", "the dog and the cat nap in the park"), // en-like
      (6L, "xx", "der hund und die katze schlafen gern")) // de-like
    val df = docs.toDF("doc_id", "lang", "text")
    val out = Text.dsirWeights(df, "doc_id", "text", "lang", "en",
        nBuckets = 64, topN = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val ref = refDsir(docs.map(d => (d._1, d._2, d._3)), "en", 64)
    assert(out.size == docs.size)
    docs.foreach { case (id, _, _) =>
      assert(out(id) == ref(id), s"doc $id: got ${out(id)}, ref ${ref(id)}")
    }
    // the en-like unlabeled doc must outrank the de-like one
    assert(out(5L)._2 > out(6L)._2)
  }

  test("dsirWeights topN cut is by weight desc with doc_id tie-break") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma"),
      (2L, "xx", "alpha beta gamma"),
      (3L, "xx", "zz yy xx ww vv"))
    val out = Text.dsirWeights(docs.toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", "en", nBuckets = 64, topN = 2)
      .orderBy(col("weight").desc, col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    // docs 1 and 2 share the target text -> identical (higher) weights;
    // the cut keeps both, dropping doc 3
    assert(out == Seq(1L, 2L))
  }

  // --- sequential reference for char entropy -------------------------
  private def refEntropy(text: String): Double = {
    val counts = text.codePoints().toArray.groupBy(identity).view.mapValues(_.length.toLong)
    val n = text.codePointCount(0, text.length).toLong
    def lnq(x: Long) = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    if (n == 0) 0.0
    else (n * lnq(n) - counts.values.map(k => k * lnq(k)).sum).toDouble / (n.toDouble * 1e6)
  }

  test("charEntropy matches a sequential reference; extremes ordered") {
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaaa"),                  // zero entropy
      (2L, "abcdefghijklmnop"),                  // max for 16 chars: ln 16
      (3L, "the quick brown fox jumps over dog"),
      (4L, "aабвгд 漢字テスト mixed unicode"))
    val out = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Text.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.foreach { case (id, txt) =>
      assert(out(id) == refEntropy(txt), s"doc $id: ${out(id)} vs ${refEntropy(txt)}")
    }
    assert(out(1L) == 0.0)
    assert(math.abs(out(2L) - math.log(16.0)) < 1e-5)
    assert(out(1L) < out(3L) && out(2L) > out(3L) * 0.5)
  }

  test("tokenBudgetMix: per-shard budgets hold, admission is prefix-closed") {
    val docs = (1L to 120L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", ("tok " * (1 + (i % 7)).toInt).trim))
    val df = docs.toDF("doc_id", "source", "text")
    val out = Text.tokenBudgetMix(df, "doc_id", "text", "source",
      budgetPerDomain = 40, nShards = 4).collect()
    assert(out.nonEmpty)
    // reconstruct the shard assignment + admission order and check
    // (a) every (source, shard) spends <= budget/nShards tokens,
    // (b) admitted docs form a PREFIX of the shard's deterministic order
    val bucketOf = df.select(col("doc_id"),
        graft.operators.Text.sampleBucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val admitted = out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    admitted.groupBy { case (src, id, _) => (src, bucketOf(id) % 4) }
      .foreach { case ((src, shard), rows) =>
        assert(rows.map(_._3).sum <= 10, s"($src,$shard) over budget")
      }
    val admittedIds = admitted.map(_._2).toSet
    docs.groupBy { case (id, src, _) => (src, bucketOf(id) % 4) }
      .foreach { case (_, grp) =>
        val order = grp.sortBy { case (id, _, _) => (bucketOf(id), id) }
        val flags = order.map { case (id, _, _) => admittedIds.contains(id) }
        assert(!flags.dropWhile(identity).contains(true),
          s"admission not a prefix: $order -> $flags")
      }
  }

  // --- hashed-TF featurizer + RAG retrieval --------------------------
  private def refHashedTf(text: String, nBuckets: Int): Array[Double] = {
    val counts = new Array[Double](nBuckets)
    refBuckets(text, nBuckets).foreach(b => counts(b) += 1.0)
    var norm2 = 0.0
    counts.foreach(c => norm2 += c * c)
    val norm = math.sqrt(norm2)
    if (norm > 0) counts.map(_ / norm) else counts
  }

  test("hashedTf matches a sequential reference exactly; unit norm") {
    val docs = Seq((1L, "the cat and the dog"), (2L, "x"), (3L, "a b c d e f g"))
    val out = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Text.hashedTf(col("text"), 32).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    docs.foreach { case (id, txt) =>
      assert(out(id).sameElements(refHashedTf(txt, 32)), s"doc $id")
      val n2 = out(id).map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9)
    }
  }

  test("ragRetrieveTopK: a copied passage is its query's top hit (auto planes)") {
    import graft.operators.Vectors
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val corpusDocs = Seq(
      (10L, s"$passage plus trailing context words here"),
      (11L, "one two three four five six seven eight"),
      (12L, "spark catalyst tungsten codegen shuffle partition"))
    val chunks = corpusDocs.toDF("doc_id", "text")
      .select(col("doc_id").as("cdoc"), lit(0L).as("chunk_idx"),
        Text.hashedTf(col("text"), 64).as("cv"))
    val qs = Seq((1L, passage)).toDF("qid", "qtext")
      .select(col("qid"), Text.hashedTf(col("qtext"), 64).as("qv"))
    val out = Vectors.ragRetrieveTopK(qs, "qid", "qv", chunks,
        Seq("cdoc", "chunk_idx"), "cv", dim = 64, k = 2, planes = Vectors.planesFor(3, 16),
        selfExcludeCol = Some("cdoc"))
      .orderBy(col("cosine").desc).collect()
    assert(out.nonEmpty && out.head.getAs[Long]("cdoc") == 10L,
      s"expected passage doc first, got ${out.toSeq}")
    assert(out.head.getAs[Double]("cosine") > 0.8)
  }

  test("nbLangIdEval: separable vocabularies give a perfect diagonal") {
    // two languages with DISJOINT vocabularies; ids 1..80 land in both
    // the train (bucket >= 200) and test (bucket < 200) splits
    val vocabA = Array("aaa", "bbb", "ccc", "ddd")
    val vocabB = Array("xxx", "yyy", "zzz", "www")
    val docs = (1L to 80L).map { i =>
      val v = if (i % 2 == 0) vocabA else vocabB
      val lang = if (i % 2 == 0) "A" else "B"
      (i, lang, (0 until 12).map(j => v((i + j).toInt % 4)).mkString(" "))
    }
    val out = Text.nbLangIdEval(docs.toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", nBuckets = 64, testBelowPerMille = 200)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty, "test split must be non-empty")
    assert(out.forall { case (actual, pred, _) => actual == pred },
      s"expected a perfect diagonal, got ${out.toSeq}")
    // sanity: both classes present in the test split
    assert(out.map(_._1).toSet == Set("A", "B"), out.toSeq.toString)
  }

  test("labelPropagation: spread, stickiness, tie-break, unreached null") {
    import graft.operators.Graph
    // chain component seeded 'A' at node 1; pair component seeded 'B';
    // node 30 isolated-with-edge-to-nothing-labeled; node 40 tied A/B
    def undirected(pairs: (Long, Long)*): Seq[(Long, Long)] =
      pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = undirected(
      (1L, 2L), (2L, 3L), (3L, 4L),        // chain from seed A
      (10L, 11L),                          // pair, seed B at 10
      (30L, 31L),                          // both unseeded -> null
      (40L, 1L), (40L, 10L)                // 40 hears A and B once each
    ).toDF("src", "dst")
    val seeds = Seq(
      (1L, Some("A")), (2L, None), (3L, None), (4L, None),
      (10L, Some("B")), (11L, None), (30L, None), (31L, None),
      (40L, None)).toDF("node", "seed_label")
    val out = Graph.labelPropagation(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(2L) == Some("A") && out(3L) == Some("A") && out(4L) == Some("A"))
    assert(out(11L) == Some("B"))
    assert(out(30L).isEmpty && out(31L).isEmpty)
    assert(out(40L) == Some("A"), "equal votes break to the ascending label")
    assert(out(1L) == Some("A") && out(10L) == Some("B"), "seeds never change")
  }

  // --- sequential reference for MIPS (norm-augmentation + LSH) -------
  private def refPlaneW(t: Int, p: Int, d: Int): Double =
    if (scala.util.hashing.MurmurHash3.productHash((t, p, d)) % 2 == 0) 1.0 else -1.0

  private def refKeys(v: Array[Double], planes: Int, tables: Int): Seq[(Int, Long)] =
    (0 until tables).map { t =>
      var key = 0L
      for (p <- 0 until planes) {
        var proj = 0.0
        for (d <- v.indices) proj += v(d) * refPlaneW(t, p, d)
        if (proj > 0) key |= 1L << p
      }
      t -> key
    }

  test("mipsTopK matches a sequential reference; max-norm aligned vector wins") {
    val dim = 8; val planes = 4; val tables = 4; val k = 2
    def vec(seed: Int, scale: Float): Array[Float] =
      Array.tabulate(dim)(d =>
        (scala.util.hashing.MurmurHash3.productHash((seed, d)) % 7 - 3) * scale / 3f)
    val star = Array.tabulate(dim)(d => if (d == 0) 10f else 0f) // dominant norm
    val alignedQ = Array.tabulate(dim)(d => if (d == 0) 1f else 0f)
    val docs = Seq((100L, star), (101L, alignedQ)) ++
      (1L to 30L).map(i => (i, vec(i.toInt, 1f)))
    val df = docs.toDF("vec_id", "embedding")
    val out = graft.operators.Vectors
      .mipsTopK(df, "vec_id", "embedding", dim, k, tables, planes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(x => (-x._3, x._2)).toSeq).toMap
    // reference: same reduction, brute candidates from key collisions
    val vecs = docs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val n2 = vecs.view.mapValues(v => v.foldLeft(0.0)((a, x) => a + x * x)).toMap
    val m2 = n2.values.max
    val ckeys = vecs.map { case (id, v) =>
      id -> refKeys(v :+ math.sqrt(m2 - n2(id)), planes, tables).toSet }
    val qkeys = vecs.map { case (id, v) =>
      id -> refKeys(v :+ 0.0, planes, tables).toSet }
    def dot(a: Array[Double], b: Array[Double]) =
      BigDecimal(a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ref = vecs.keys.map { q =>
      val cands = vecs.keys.filter(c => c != q && qkeys(q).exists(ckeys(c).contains))
      q -> cands.map(c => (q, c, dot(vecs(q), vecs(c))))
        .toSeq.sortBy(x => (-x._3, x._2)).take(k)
    }.toMap.filter(_._2.nonEmpty)
    assert(out == ref, s"mips mismatch:\n got $out\n ref $ref")
    // the dominant-norm vector is every aligned query's top hit
    assert(out(101L).head._2 == 100L)
  }

  test("simhashHamPairs equals brute-force hamming pairs within radius") {
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "one two three four five six seven eight nine ten eleven twelve",
      "spark catalyst tungsten codegen shuffle partition broadcast join")
    // exact dup, 1-token variants, plus unrelated fillers
    val docs = (
      base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Seq((10L, base(0)),                          // exact dup of 0
          (11L, base(0).replace("mu", "nu")),      // near dup of 0
          (12L, base(1).replace("twelve", "dozen"))) ++
      (20L to 60L).map(i => (i, s"filler document number $i with token${i % 7} and word${i % 11}"))
    ).toSeq
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.simhashHamPairs(df, "doc_id", "text", radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Dedup.simhash64(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.map(_._1).sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == brute, s"got ${got.toSeq.sorted}, brute ${brute.toSeq.sorted}")
    assert(brute.contains((0L, 10L, 0)), "exact dup must appear at hamming 0")
    assert(got.exists { case (a, b, h) => a == 0L && b == 11L && h > 0 } ||
      java.lang.Long.bitCount(sigs(0L) ^ sigs(11L)) > 3,
      "near dup appears iff within radius")
  }
}
