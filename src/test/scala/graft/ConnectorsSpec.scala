package graft


import graft.sources.{BatchedRemoteConnector, CalibratorSource, ParquetSnapshotConnector}

/** The external-catalog connector seam: lake-backed fetch is a
  * broadcast semi-join (distributed, no driver key list), remote-
  * backed fetch pages bounded key batches and refuses corpus-sized
  * pulls, and the S8 calibrator flow runs against either. */
class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  private def snapshotDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").toString
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("hpxid", "star", "mag")
      .write.mode("overwrite").parquet(s"$dir/cal.parquet")
    s"$dir/cal.parquet"
  }

  test("ParquetSnapshotConnector: semi-join slice, duplicate keys don't fan out") {
    val conn = new ParquetSnapshotConnector(snapshotDir())
    val keys = Seq(1L, 3L, 3L, 99L).toDF("hpxid") // dup + missing
    val got = conn.fetchByKeys(spark, keys, "hpxid")
    assert(got.columns.toSeq == Seq("hpxid", "star", "mag"))
    assert(got.orderBy("hpxid").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0), (3L, "c", 30.0)))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    intercept[IllegalArgumentException] {
      conn.fetchByKeys(spark, keys, "nope").collect()
    }
  }

  test("BatchedRemoteConnector: pages bounded batches, refuses corpus-sized pulls") {
    val catalog = Map(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "e", 8L -> "h",
      13L -> "m", 21L -> "u")
    val batches = scala.collection.mutable.ArrayBuffer[Int]()
    val conn = new BatchedRemoteConnector[Long, (Long, String)](
      "fake-mongo",
      batch => { batches += batch.size; batch.flatMap(k => catalog.get(k).map(k -> _)) },
      maxKeys = 10, batchSize = 3)
    val keys = Seq(1L, 2L, 3L, 5L, 8L, 13L, 34L, 1L, 2L).toDF("k") // dups + miss
    val got = conn.fetchByKeys(spark, keys, "k")
    assert(got.count() == 6) // 34 missing, dups collapsed
    assert(batches.sum == 7, s"expected 7 distinct keys fetched, got $batches")
    assert(batches.forall(_ <= 3), s"batch overflow: $batches")
    // 11 distinct keys > maxKeys=10: refuse, don't melt the service
    val big = (1L to 11L).toDF("k")
    intercept[IllegalArgumentException] { conn.fetchByKeys(spark, big, "k") }
  }

  test("BatchedRemoteConnector: transient fault -> bounded retries -> recovery") {
    val calls = scala.collection.mutable.ArrayBuffer[Int]()
    var failuresLeft = 2 // first page fails twice, then succeeds
    val conn = new BatchedRemoteConnector[Long, (Long, String)](
      "flaky",
      batch => {
        calls += batch.size
        if (failuresLeft > 0) { failuresLeft -= 1; sys.error("503") }
        batch.map(k => k -> s"v$k")
      },
      maxKeys = 100, batchSize = 2, maxRetries = 3, backoffMs = 1)
    val got = conn.fetchByKeys(spark, Seq(1L, 2L, 3L).toDF("k"), "k")
    assert(got.count() == 3)
    assert(calls.size == 4, s"2 failures + 2 successful pages, got $calls")
  }

  test("BatchedRemoteConnector: exhausted retries -> typed error with page state") {
    var page = 0
    val conn = new BatchedRemoteConnector[Long, (Long, String)](
      "down",
      batch => {
        page += 1
        if (page > 1) sys.error("connection refused") // page 2 always fails
        batch.map(k => k -> s"v$k")
      },
      maxKeys = 100, batchSize = 2, maxRetries = 2, backoffMs = 0)
    val e = intercept[graft.sources.ConnectorFetchException] {
      conn.fetchByKeys(spark, Seq(1L, 2L, 3L, 4L).toDF("k"), "k")
    }
    assert(e.connector == "down")
    assert(e.pagesCompleted == 1 && e.rowsFetched == 2, e.getMessage)
    assert(e.failedPageKeys.size == 2)
    assert(e.attempts == 3, s"1 try + 2 retries, got ${e.attempts}") // bounded
    assert(e.getCause.getMessage.contains("connection refused"))
  }

  test("CalibratorSource: footprint cells -> catalog slice (S8 shape)") {
    val nside = 64
    val det = Seq((10.0, 10.0), (10.01, 10.01), (200.0, -45.0))
      .toDF("ra", "dec")
    val cellOf = (ra: Double, dec: Double) =>
      graft.functions.Healpix.ang2pixNest(nside, ra, dec)
    val dir = java.nio.file.Files.createTempDirectory("graft_cal").toString
    Seq(
      (cellOf(10.0, 10.0), "near1"),
      (cellOf(200.0, -45.0), "near2"),
      (cellOf(90.0, 80.0), "far"))
      .toDF("hpxid", "star")
      .write.mode("overwrite").parquet(s"$dir/cal.parquet")
    val got = CalibratorSource.loadForFootprint(spark,
      new ParquetSnapshotConnector(s"$dir/cal.parquet"),
      det, "ra", "dec", nside)
    val stars = got.select("star").as[String].collect().toSet
    assert(stars.contains("near1") && stars.contains("near2") && !stars.contains("far"),
      stars.toString)
  }
}
