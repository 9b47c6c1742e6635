package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The shared run machinery: [[Harness.timed]]'s reclaim contract (the
  * r05 storage leak and the r11 CacheManager rule), [[Harness.StageLog]]'s
  * per-run attribution, and source tripwires keeping the harness the
  * only home of the session builder and the persistent-RDD sweep, and
  * every scaladoc on its own definition. */
class HarnessSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persistent RDDs before a run. reclaim clears the whole session
    * CacheManager, so frames earlier suites cached on this shared
    * session are dropped first — they are not the run's to keep. */
  private def baseline(): Set[Int] = {
    spark.catalog.clearCache()
    persistentIds
  }

  /** The same plan on every call: CacheManager entries are keyed by it. */
  private def frame(): DataFrame =
    spark.range(0, 2000, 1, 4).withColumn("v", col("id") * 7 % 13)

  /** Actual storage level of the RDD behind `df`'s cache entry. */
  private def cachedLevel(df: DataFrame): Option[StorageLevel] =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.getStorageLevel
    }

  test("timed reclaims persisted and checkpointed frames and drops the plan's cache entry") {
    val before = baseline()
    val (n, secs) = Harness.timed(spark) {
      val p = frame().persist()
      val c = spark.range(0, 500, 1, 2).toDF("id").localCheckpoint()
      val rows = p.count() + c.count()
      assert(persistentIds.size >= before.size + 2, "nothing was persisted inside the run")
      rows
    }
    assert(n == 2500L && secs > 0)
    assert(persistentIds == before, s"leaked: ${persistentIds -- before}")
    assert(frame().storageLevel == StorageLevel.NONE, "CacheManager still holds the run's plan")
  }

  test("a second identical run genuinely caches again") {
    def run(): Option[StorageLevel] = Harness.timed(spark) {
      val p = frame().persist()
      p.count()
      cachedLevel(p)
    }._1
    val first = run()
    val second = run()
    assert(first.exists(_ != StorageLevel.NONE), s"first run did not cache: $first")
    assert(second.exists(_ != StorageLevel.NONE),
      s"second run's cache entry is dead ($second) — reclaim must clearCache before unpersisting")
  }

  test("timed reclaims when the body throws") {
    val before = baseline()
    intercept[IllegalStateException] {
      Harness.timed(spark) {
        frame().localCheckpoint()
        throw new IllegalStateException("boom")
      }
    }
    assert(persistentIds == before)
  }

  test("StageLog attributes a one-partition job to its own run only") {
    val sc = spark.sparkContext
    val log = new Harness.StageLog(spark)
    try {
      sc.parallelize(1 to 100, 2).count() // outside any run: never attributed
      val other = Future(log.run {
        sc.parallelize(1 to 100, 3).map(_ * 2).count()
        sc.parallelize(1 to 10, 2).count()
      })
      val (n, stages, jobs) = log.run(sc.parallelize(1 to 10, 1).count())
      val (_, otherStages, otherJobs) = Await.result(other, 2.minutes)
      assert(n == 10L)
      assert(stages.map(_.tasks) == Seq(1), s"own run saw: $stages")
      assert(jobs == 1, s"own run counted $jobs jobs")
      assert(otherStages.map(_.tasks) == Seq(3, 2), s"concurrent run saw: $otherStages")
      assert(otherJobs == 2, s"concurrent run counted $otherJobs jobs")
      assert(stages.head.wallS >= 0 && stages.head.cpuMs >= 0 && stages.head.name.nonEmpty)
    } finally log.close()
  }

  test("JSON strings escape quotes, backslashes and every control character") {
    assert(Harness.jsonString("a\"b\\c\nd\te\u0001") == "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }

  // Source tripwire, in the style of CheckpointAuditSpec: every main
  // builds its session and reclaims its runs through Harness.
  private val root = new java.io.File("src/main/scala")

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** (file name, occurrence count) of `regex`, comments included. */
  private def hits(regex: String): Seq[(String, Int)] = sources(root).flatMap { f =>
    val s = scala.io.Source.fromFile(f, "UTF-8")
    val n = try regex.r.findAllIn(s.mkString).size finally s.close()
    if (n > 0) Seq(f.getName -> n) else Nil
  }

  test("the session builder exists once under src/main, in Harness") {
    assert(hits("SparkSession\\.builder\\(") == Seq("Harness.scala" -> 1))
  }

  test("the persistent-RDD sweep lives only in Harness") {
    // loops free their own frames through graft.core.LoopFrames, which
    // never diffs the persistent-RDD table
    val files = hits("getPersistentRDDs").map(_._1).toSet
    assert(files == Set("Harness.scala"), s"getPersistentRDDs in: $files")
  }

  test("no scaladoc block is stacked directly on another") {
    // the first of two stacked /** */ blocks documents nothing. The one
    // pair left, Bench.scala:160-163, stays: under the ROADMAP rule any
    // Bench edit needs its own old-vs-new A/B in one window, so it
    // waits for the next change that touches Bench anyway
    val stacked = sources(root).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      val text = try s.mkString finally s.close()
      "\\*/\\s*/\\*\\*".r.findAllMatchIn(text)
        .map(m => f.getName -> (text.take(m.start).count(_ == '\n') + 1)).toSeq
    }.filterNot { case (file, line) => file == "Bench.scala" && line >= 160 && line <= 163 }
    assert(stacked.isEmpty, s"stacked scaladoc (file, line of the first */): $stacked")
  }
}
