package graft

/** Suite-survival soak: the full registry executed TWICE in one JVM,
  * through the bench's per-run reclamation ([[Harness.timed]]: clearCache,
  * then unpersist what the run created), asserting
  * executor storage returns to baseline between and after passes.
  * Locks in the r5 storage-leak fix (accumulated localCheckpoint
  * blocks filled the heap and killed the SparkContext mid-suite)
  * permanently: any future operator that leaks persistent RDDs past
  * its own run fails here, not in a dead driver bench. */
class SoakSpec extends SparkSpec {

  test("full registry twice in one JVM: storage returns to baseline") {
    val sc = spark.sparkContext
    // the harness reclaim clears the session CacheManager, so the
    // baseline starts from an empty one (earlier suites may have
    // cached frames on this shared session)
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.keySet

    def runAll(pass: Int): Unit =
      SparkEntry.queries.foreach { case (name, fn) =>
        try Harness.timed(spark)(fn(spark, sf001).count())
        catch {
          case e: Throwable =>
            fail(s"pass $pass: $name failed at sf0.001: ${e.getMessage}", e)
        }
      }

    runAll(1)
    val after1 = sc.getPersistentRDDs.keySet
    assert(after1 == baseline,
      s"pass 1 leaked persistent RDDs: ${after1 -- baseline}")
    runAll(2)
    val after2 = sc.getPersistentRDDs.keySet
    assert(after2 == baseline,
      s"pass 2 leaked persistent RDDs: ${after2 -- baseline}")
    assert(!sc.isStopped, "SparkContext died during the soak")
  }
}
