package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * attributed by a fresh job group (local properties propagate to
    * the threads Spark runs a query's jobs on), so jobs of suites
    * running concurrently never count. A marker job in a second group
    * flushes the asynchronous listener bus: events arrive in order, so
    * once the marker's start is seen every earlier start has been. */
  def jobsStarted[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, marker) = (java.util.UUID.randomUUID().toString, java.util.UUID.randomUUID().toString)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group`  => started.incrementAndGet()
          case `marker` => flushed.countDown()
          case _        =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsStarted")
      val out = body
      sc.setJobGroup(marker, "jobsStarted marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
