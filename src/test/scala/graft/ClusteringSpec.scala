package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** M1 correctness: DBSCAN vs a brute-force single-node reference. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs the distributed DBSCAN starts while it builds its result on
    * the 400-point minSamples = 2 field below (the query stages of the
    * ε-pair join and the canonical-edge cut, its count and the edge
    * collect): the count the operator had before the driver path. */
  private val DistributedBuildJobs = 15

  /** Brute-force DBSCAN (same semantics as Clustering.dbscan: core =
    * ≥ minSamples points within eps incl. self; clusters = CCs of the
    * core ε-graph; borders -> min core-neighbor label; label = min
    * member id). A point with a NULL id or coordinate has no
    * neighbours; with minSamples <= 1 it is still its own cluster,
    * labelled by its id (NULL for a NULL id). Expects distinct
    * non-NULL ids. */
  private def bruteDbscan(pts: Seq[(Option[Long], Option[Double], Option[Double])], eps: Double,
                          minSamples: Int): Seq[(Option[Long], Option[Long])] = {
    val placed = pts.collect { case (Some(id), Some(x), Some(y)) => (id, x, y) }
    def d2(a: (Long, Double, Double), b: (Long, Double, Double)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
    val neigh = pts.flatMap(_._1).map(id => id -> Set.empty[Long]).toMap ++
      placed.map(p => p._1 ->
        placed.filter(q => q._1 != p._1 && d2(p, q) <= eps * eps).map(_._1).toSet)
    val core = neigh.keySet.filter(id => neigh(id).size + 1 >= minSamples)
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
    val coreOut = core.toSeq.map(c => Option(c) -> Option(compMin(coreLabel(c))))
    val borderOut = neigh.keys.filterNot(core).toSeq
      .flatMap { id =>
        val cs = neigh(id).filter(core)
        if (cs.isEmpty) None else Some(Option(id) -> Option(cs.map(c => compMin(coreLabel(c))).min))
      }
    val nullIds = if (minSamples <= 1) pts.filter(_._1.isEmpty).map(_ => (None, None)) else Nil
    (coreOut ++ borderOut ++ nullIds).sorted
  }

  /** Both DBSCAN paths on `frame` (built in the given session, columns
    * id, x, y) equal the brute force: the driver path under the
    * default settings and the distributed path with broadcasting off. */
  private def checkFrame(frame: SparkSession => DataFrame, eps: Double, minSamples: Int): Unit = {
    val pts = frame(spark).collect().toSeq.map(r => (
      Option(r.get(0)).map(_.asInstanceOf[Number].longValue),
      Option(r.get(1)).map(_.asInstanceOf[Number].doubleValue),
      Option(r.get(2)).map(_.asInstanceOf[Number].doubleValue)))
    val exp = bruteDbscan(pts, eps, minSamples)
    // each run's caches are freed (the distributed path leaves its
    // pair and core frames cached), so no run reads an earlier one's
    for ((path, session) <- Seq("driver" -> spark, "distributed" -> noBroadcast)) reclaimed {
      val out = Clustering.dbscan(frame(session), "id", "x", "y", eps, minSamples)
      val local = out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
      assert(local == (path == "driver"), s"$path path expected")
      val got = out.collect().toSeq.map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Number].longValue),
          Option(r.get(1)).map(_.asInstanceOf[Number].longValue))).sorted
      assert(got == exp, s"$path path")
    }
  }

  private def check(pts: Seq[(Long, Double, Double)], eps: Double, minSamples: Int): Unit =
    checkFrame(_.createDataFrame(pts).toDF("id", "x", "y"), eps, minSamples)

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

  /** Component labels of `nodes` over `undirected`: connectedComponents
    * (the driver union-find at this size) on both directions of each
    * edge, or its star rounds on the canonical orientation. */
  private def components(rounds: Boolean, nodes: Seq[Long],
                         undirected: Seq[(Long, Long)]): Map[Long, Long] = {
    val ids = nodes.toDF("_id")
    val out =
      if (rounds) Clustering.starRounds(ids, undirected.map { case (a, b) => (a max b, a min b) }
        .toDF("_a", "_b"), new graft.core.LoopFrames)
      else Clustering.connectedComponents(ids, (undirected ++ undirected.map(_.swap)).toDF("_a", "_b"))
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents: driver union-find == distributed rounds") {
    // chain, pair, triangle, isolated node; both directions per edge
    val undirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L, 99L)
    val viaDriver = components(rounds = false, nodes, undirected)
    val viaRounds = components(rounds = true, nodes, undirected)
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
    val ids = undirected.flatMap(e => Seq(e._1, e._2)).distinct :+ 77777L
    val viaDriver = components(rounds = false, ids, undirected)
    val viaStars = components(rounds = true, ids, undirected)
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

  test("integral coordinates: pairs exactly at eps are neighbours") {
    // (0,0)-(3,4) and (3,4)-(6,8) at exactly 5; (6,8)-(11,8) at 5;
    // (20,0)-(25,1) just past it (26 > 25)
    val pts = Seq[(Long, Long, Long)]((1L, 0L, 0L), (2L, 3L, 4L), (3L, 6L, 8L),
      (4L, 11L, 8L), (5L, 20L, 0L), (6L, 25L, 1L), (7L, 100L, 100L))
    for (minSamples <- Seq(1, 2, 3))
      checkFrame(_.createDataFrame(pts).toDF("id", "x", "y"), eps = 5.0, minSamples)
  }

  test("negative coordinates: cells across zero") {
    val rnd = new scala.util.Random(3)
    val pts = (0L until 120L).map(i => (i, rnd.nextDouble() * 8 - 4, rnd.nextDouble() * 8 - 4))
    check(pts, eps = 0.7, minSamples = 3)
    check(pts :+ ((500L, -0.5, -0.5)) :+ ((501L, 0.2, 0.2)), eps = 1.0, minSamples = 1)
  }

  test("co-located points with distinct ids") {
    val pts = Seq[(Long, Double, Double)]((1L, 2.0, 2.0), (2L, 2.0, 2.0), (3L, 2.0, 2.0),
      (4L, 9.0, 9.0), (5L, 9.0, 9.0), (6L, 30.0, 30.0))
    for (minSamples <- Seq(1, 2, 3)) check(pts, eps = 0.5, minSamples)
  }

  test("dbscan on a dimension-sized parquet frame starts one job; broadcasting off, the distributed path's") {
    val rnd = new scala.util.Random(19)
    val dir = tempDir("graft_dbscan_jobs").resolve("pts").toString
    // several files, so the one-job fetch is not an artifact of one partition
    (0L until 400L).map(i => (i, rnd.nextDouble() * 40, rnd.nextDouble() * 40))
      .toDF("id", "x", "y").repartition(4).write.parquet(dir)
    def run(session: SparkSession) = {
      val pts = session.read.parquet(dir)
      val (out, built) = jobsStarted(Clustering.dbscan(pts, "id", "x", "y", eps = 2.0, minSamples = 2))
      val (n, counted) = jobsStarted(out.count())
      (built, counted, n)
    }
    val (built, counted, n) = run(spark)
    assert(built == 1, s"the driver path fetches the points in one job, not $built")
    assert(counted <= 2, s"counting the local result took $counted jobs")
    val (builtD, _, nD) = run(noBroadcast)
    assert(builtD == DistributedBuildJobs, s"the distributed path built its result with $builtD jobs")
    assert(n == nD && n > 0)
  }

  test("a NULL coordinate never pairs; a NULL id labels nothing but itself") {
    val pts = Seq[(Option[Long], Option[Double], Option[Double])](
      (Some(1L), Some(0.0), Some(0.0)), (Some(2L), Some(0.5), Some(0.0)),
      (Some(3L), None, Some(0.2)), (Some(4L), Some(0.2), None),
      (None, Some(0.1), Some(0.1)), (None, Some(8.0), Some(8.0)),
      (Some(5L), Some(8.0), Some(8.2)))
    for (minSamples <- Seq(1, 2))
      checkFrame(_.createDataFrame(pts).toDF("id", "x", "y"), eps = 1.0, minSamples)
  }

  /** A join's eager checkpoint: its estimate is the product of the
    * join's sides, far above its stored rows. */
  private def checkpointedJoin(session: SparkSession, n: Int): DataFrame = {
    import session.implicits._
    val rnd = new scala.util.Random(23)
    val coords = (0L until n.toLong).map(i => (i, rnd.nextDouble() * 60, rnd.nextDouble() * 60))
      .toDF("id", "x", "y")
    (0L until n.toLong).toDF("id").join(coords, "id").localCheckpoint()
  }

  test("a checkpointed join whose estimate exceeds the threshold is clustered on the driver") {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val pts = checkpointedJoin(spark, 400)
    assert(pts.queryExecution.optimizedPlan.stats.sizeInBytes > threshold,
      "the checkpoint carries the join's inflated estimate")
    checkFrame(checkpointedJoin(_, 400), eps = 3.0, minSamples = 2)
  }

  test("the driver fetch is bounded by the threshold in rows: past it, the distributed path") {
    // 32 bytes per (long, double, double) row: a bound of 50 rows
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", (32 * 50).toString)
    for ((n, local) <- Seq(40 -> true, 60 -> false)) {
      val pts = checkpointedJoin(small, n)
      val exp = bruteDbscan(pts.collect().toSeq.map(r =>
        (Some(r.getLong(0)), Some(r.getDouble(1)), Some(r.getDouble(2)))), eps = 8.0, minSamples = 2)
      val out = Clustering.dbscan(pts, "id", "x", "y", eps = 8.0, minSamples = 2)
      assert(out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] == local, s"$n rows")
      val got = out.collect().toSeq.map(r => (Option(r.getLong(0)), Option(r.getLong(1)))).sorted
      assert(got == exp, s"$n rows")
    }
  }

  test("long coordinates whose squares overflow: ANSI on, both paths fail; ANSI off, both wrap alike") {
    // 6e18 apart in neighbouring cells of eps = 4e18: the square overflows
    // a long; wrapped, any long is <= eps², so the two points pair
    val pts = Seq((1L, -3000000000000000000L, 0L), (2L, 3000000000000000000L, 0L))
    def run(session: SparkSession) =
      Clustering.dbscan(session.createDataFrame(pts).toDF("id", "x", "y"), "id", "x", "y", 4e18, 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (session <- Seq(spark, noBroadcast)) {
      val e = intercept[Exception](run(session))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e)
    }
    val off = spark.newSession()
    off.conf.set("spark.sql.ansi.enabled", "false")
    val offDistributed = off.newSession()
    offDistributed.conf.set("spark.sql.ansi.enabled", "false")
    offDistributed.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(run(off) == Map(1L -> 1L, 2L -> 1L))
    assert(run(offDistributed) == Map(1L -> 1L, 2L -> 1L))
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
