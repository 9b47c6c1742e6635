package graft

import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** M1 correctness: DBSCAN vs a brute-force single-node reference. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force DBSCAN (same semantics as Clustering.dbscan: core =
    * ≥ minSamples points within eps incl. self; clusters = CCs of the
    * core ε-graph; borders -> min core-neighbor label; label = min
    * member id). */
  private def bruteDbscan(pts: Seq[(Long, Double, Double)], eps: Double,
                          minSamples: Int): Map[Long, Long] = {
    def d2(a: (Long, Double, Double), b: (Long, Double, Double)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
    val neigh = pts.map(p => p._1 ->
      pts.filter(q => q._1 != p._1 && d2(p, q) <= eps * eps).map(_._1).toSet).toMap
    val core = pts.map(_._1).filter(id => neigh(id).size + 1 >= minSamples).toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map(core.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- core; b <- neigh(a) if core(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val coreLabel = core.map(c => c -> find(c)).toMap
    // min label per component
    val compMin = coreLabel.groupBy(_._2).map { case (root, m) => root -> m.keys.min }
    val coreOut = core.map(c => c -> compMin(coreLabel(c))).toMap
    val borderOut = pts.map(_._1).filterNot(core)
      .flatMap { id =>
        val cs = neigh(id).filter(core)
        if (cs.isEmpty) None else Some(id -> cs.map(coreOut).min)
      }.toMap
    coreOut ++ borderOut
  }

  private def check(pts: Seq[(Long, Double, Double)], eps: Double, minSamples: Int): Unit = {
    val df = pts.toDF("id", "x", "y")
    val got = Clustering.dbscan(df, "id", "x", "y", eps, minSamples)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = bruteDbscan(pts, eps, minSamples)
    assert(got == exp)
  }

  test("three well-separated clusters + noise") {
    val pts = Seq[(Long, Double, Double)](
      (1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 0.5, 0.8),
      (10L, 100.0, 100.0), (11L, 101.0, 100.5),
      (20L, 200.0, 0.0), (21L, 200.5, 0.5), (22L, 201.0, 0.0),
      (99L, 500.0, 500.0)) // noise
    check(pts, eps = 2.0, minSamples = 2)
  }

  test("chain cluster spanning many cells merges into one component") {
    val pts = (0L until 40L).map(i => (i, i * 1.5, 0.0)) :+ ((999L, 1000.0, 1000.0))
    check(pts, eps = 2.0, minSamples = 2)
  }

  test("minSamples filters sparse bridges") {
    // two dense blobs connected by a lone bridge point: with
    // minSamples=4 the bridge is not core, so blobs stay separate
    val blobA = Seq[(Long, Double, Double)](
      (1L, 0, 0), (2L, 1, 0), (3L, 0, 1), (4L, 1, 1))
    val blobB = Seq[(Long, Double, Double)](
      (11L, 10, 0), (12L, 11, 0), (13L, 10, 1), (14L, 11, 1))
    val bridge = Seq[(Long, Double, Double)]((6L, 5.0, 0.0))
    check(blobA ++ blobB ++ bridge, eps = 6.0, minSamples = 4)
  }

  test("minSamples=1: every point is its own core") {
    val pts = Seq[(Long, Double, Double)]((1L, 0, 0), (2L, 50, 50), (3L, 50.5, 50.5))
    check(pts, eps = 1.0, minSamples = 1)
  }

  test("connectedComponents: driver union-find == distributed rounds") {
    // chain, pair, triangle, isolated node; both directions per edge
    val undirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
    val edges = (undirected ++ undirected.map(_.swap)).toDF("_a", "_b")
    val nodes = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L, 99L)).toDF("_id")
    val viaDriver = Clustering.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRounds = Clustering.connectedComponents(nodes, edges, driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 99L -> 99L)
    assert(viaDriver == expected)
    assert(viaRounds == expected)
  }

  test("connectedComponents: hub-skewed graph, star rounds == union-find") {
    // degree skew stress for the large-star/small-star path: one hub
    // (id 500) touching 300 spokes, a long chain threaded through the
    // hub, plus disjoint pairs — the shapes near-dup graphs produce.
    val rnd = new scala.util.Random(11)
    val hub = (0L until 300L).map(i => (500L, 1000L + i))
    val chain = (0L until 60L).map(i => (2000L + i, 2000L + i + 1)) :+ ((500L, 2000L))
    val pairs = (0L until 50L).map(i => (5000L + 2 * i, 5001L + 2 * i))
    val undirected = rnd.shuffle(hub ++ chain ++ pairs)
    val edges = (undirected ++ undirected.map(_.swap)).toDF("_a", "_b")
    val ids = undirected.flatMap(e => Seq(e._1, e._2)).distinct :+ 77777L
    val nodes = ids.toDF("_id")
    val viaDriver = Clustering.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = Clustering.connectedComponents(nodes, edges, driverMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == viaDriver)
    // the hub component's label is its minimum member (the hub id)
    assert(viaStars(1000L) == 500L && viaStars(2060L) == 500L)
    assert(viaStars(77777L) == 77777L)
  }

  test("500-point random field matches brute force") {
    val rnd = new scala.util.Random(7)
    val pts = (0L until 500L).map(i =>
      (i, rnd.nextDouble() * 300, rnd.nextDouble() * 300))
    check(pts, eps = 10.0, minSamples = 3)
  }
}

class GraphSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Graph

  test("pageRank: mass conservation, symmetry, hub dominance") {
    // 4-spoke star, symmetric edges: hub must outrank spokes, spokes equal
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 5)
    // symmetric-edge graphs have no dangling mass: sum stays ~1
    assert(math.abs(r.values.sum - 1.0) < 1e-9, r.values.sum)
    assert(Seq(2L, 3L, 4L, 5L).map(r).distinct.size == 1)
    assert(r(1L) > r(2L) * 2)
  }

  test("pageRank: deterministic under repartitioning") {
    val rnd = new scala.util.Random(11)
    val und = (0 until 400).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2).distinct
    val edges = (und ++ und.map(_.swap)).distinct.toDF("src", "dst")
    val a = Graph.pageRank(edges, 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val b = Graph.pageRank(edges.repartition(17), 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // bit-identical, not approximately equal — the decimal-sum design
    assert(a == b)
  }

  test("pageRank: empty edge frame") {
    val edges = Seq((1L, 2L)).toDF("src", "dst").where(lit(false))
    assert(Graph.pageRank(edges, 3).count() == 0)
  }

  test("triangleStats: K4, triangle-free star, random graph vs brute force") {
    def stats(und: Seq[(Long, Long)]) = {
      val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
      Graph.triangleStats(edges).collect()(0)
    }
    val k4 = stats(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(k4.getAs[Long]("n_triangles") == 4L)
    assert(k4.getAs[Long]("n_edges") == 6L && k4.getAs[Long]("n_nodes") == 4L)
    assert(k4.getAs[Double]("global_cc") == 1.0)   // 3·4 / 12 wedges
    val star = stats(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    assert(star.getAs[Long]("n_triangles") == 0L &&
      star.getAs[Double]("global_cc") == 0.0)
    val rnd = new scala.util.Random(13)
    val und = (0 until 300)
      .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val got = stats(und).getAs[Long]("n_triangles")
    val es = und.toSet
    val ids = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var expected = 0L
    for {
      i <- ids; j <- ids if j > i; k <- ids if k > j
      if es((i, j)) && es((i, k)) && es((j, k))
    } expected += 1
    assert(got == expected, s"got=$got expected=$expected")
  }
}
