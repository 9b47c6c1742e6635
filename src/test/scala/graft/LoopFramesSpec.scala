package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.LoopFrames
import graft.operators.{Clustering, Graph, Text, Vectors}

/** Ownership of loop-carried frames ([[LoopFrames]]): an iterative
  * operator frees only frames it created — a cache the caller holds
  * on an input survives the call — and the rounds it no longer reads
  * are freed as the loop moves on, not whenever a driver GC lets the
  * ContextCleaner find them. */
class LoopFramesSpec extends SparkSpec {
  import spark.implicits._

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDD behind `df`'s CacheManager entry. */
  private def cacheRdd(df: DataFrame) = df.queryExecution.withCachedData.collectFirst {
    case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
  }.getOrElse(fail("frame is not cached"))

  test("keep, cut, settle and close free exactly the frames the loop created") {
    spark.catalog.clearCache()
    val before = persistentIds
    def grown = (persistentIds -- before).size
    val frames = new LoopFrames
    val a = frames.keep(spark.range(0, 100, 1, 2).toDF("x").withColumn("r", lit(1)))
    val b = frames.keep(a.withColumn("r", col("r") + 1))
    b.count()
    assert(grown == 2)
    frames.settle() // b is materialized: a is no longer read
    assert(grown == 1 && a.storageLevel == StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
    val c = frames.cut(b.withColumn("r", col("r") + 1))
    assert(grown == 1, "the cut must free b and hold only itself")
    assert(c.agg(sum("r")).as[Long].head() == 300L)
    frames.close()
    assert(grown == 0)
    // a freed cut cannot be read back: it fails loudly, never silently
    intercept[Exception](c.count())
  }

  test("a caller's cached input survives connectedComponents and dbscan") {
    spark.catalog.clearCache()
    def survives(label: String, input: DataFrame)(call: DataFrame => DataFrame): Unit = {
      val cached = input.persist(StorageLevel.MEMORY_AND_DISK)
      val out = call(cached)
      val rdd = cacheRdd(cached)
      assert(persistentIds.contains(rdd.id), s"$label: the caller's cache was freed by the call")
      assert(out.count() > 0)
      assert(persistentIds.contains(rdd.id) && rdd.getStorageLevel != StorageLevel.NONE,
        s"$label: the caller's cache is gone after an action on the result")
      cached.unpersist()
    }
    val undirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L, 99L).toDF("_id")
    survives("connectedComponents, driver path", (undirected ++ undirected.map(_.swap)).toDF("_a", "_b"))(
      Clustering.connectedComponents(nodes, _))
    // the rounds read canonical (_a > _b) edges
    survives("connectedComponents, star rounds", undirected.map(_.swap).toDF("_a", "_b"))(
      Clustering.starRounds(nodes, _, new LoopFrames))
    val rnd = new scala.util.Random(5)
    val field = (0L until 400L).map(i => (i, rnd.nextDouble() * 20, rnd.nextDouble() * 20))
    // broadcasting off: the distributed path and its persisted pair
    // and core frames; then the driver path
    survives("dbscan(minSamples = 2), distributed", noBroadcast.createDataFrame(field).toDF("id", "x", "y"))(
      Clustering.dbscan(_, "id", "x", "y", eps = 1.0, minSamples = 2))
    survives("dbscan(minSamples = 2), driver", field.toDF("id", "x", "y"))(
      Clustering.dbscan(_, "id", "x", "y", eps = 1.0, minSamples = 2))
  }

  test("after a loop and one action, only the static frames and the last loop frames stay") {
    val rnd = new scala.util.Random(17)
    val undirected = (1 to 240).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val seeds = (0L until 60L).map(n => (n, if (n % 7 == 0) Some(s"L${n % 3}") else None))
      .toDF("node", "seed_label")
    val hub = (0L until 80L).map(i => (500L, 1000L + i)) ++
      (0L until 30L).map(i => (2000L + i, 2001L + i)) :+ ((500L, 2000L))
    val ccEdges = hub.map(_.swap).toDF("_a", "_b") // canonical: _a > _b
    val ccNodes = hub.flatMap(e => Seq(e._1, e._2)).distinct.toDF("_id")
    val docs = Seq("low lower lowest newer wider", "new newest low slow slower",
      "wide wider widest lowest newest", "aaa aab abab bbab").toDF("text")

    // (operator, static frames, loop frames the result still reads, call)
    val cases: Seq[(String, Int, Int, () => DataFrame)] = Seq(
      // static: edges, nodes, degree-joined edges; loop: the round-8 cut
      ("pageRank", 3, 1, () => Graph.pageRank(edges, iterations = 12)),
      // static: edges, nodes, seed-marked nodes, degree-joined edges
      ("personalizedPageRank", 4, 1, () => Graph.personalizedPageRank(
        edges, Seq(1L, 2L).toDF("node"), iterations = 12)),
      // static: edges; loop: the round-8 cut + the kept rounds 9-12
      // the returned frame's cache chain runs through
      ("labelPropagation", 1, 5, () => Graph.labelPropagation(
        edges, seeds, rounds = 12)),
      // loop: the round-8 cut + kept rounds 9-11 (round 12 stays lazy)
      ("kcorePeel", 0, 4, () => Graph.kcorePeel(edges, k = 3, rounds = 12)),
      // static: the vectors; loop: the last graph cut + the last beam cut
      ("nswTopK", 1, 2, () => Vectors.nswTopK(
        graft.core.Tables.load(spark, sf001, "embeddings"), "vec_id", "embedding", dim = 64, k = 5,
        planes = Vectors.planesFor(graft.core.Tables.parquetRowCount(spark, sf001, "embeddings"),
          Vectors.Nsw.BucketTarget))),
      // static: the active-node checkpoint; loop: the last star round
      ("starRounds", 1, 1, () =>
        Clustering.starRounds(ccNodes, ccEdges, new LoopFrames)),
      // loop: the last collected round + the returned round on top of it
      ("bpeTrainFull", 0, 2, () => Text.bpeTrainFull(docs, "text", merges = 6)._2))

    for ((name, static, loop, call) <- cases) {
      spark.catalog.clearCache()
      val before = persistentIds
      val out = call()
      assert(out.count() > 0, s"$name: empty result")
      val grown = persistentIds -- before
      assert(grown.size <= static + loop,
        s"$name: ${grown.size} new persistent RDDs, bound $static static + $loop loop")
    }
  }
}
