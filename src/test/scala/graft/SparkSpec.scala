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

  /** `body`'s result and the number of Spark jobs it started, counted
    * by [[Harness.StageLog]] in the run's own job group, so jobs of
    * suites running concurrently never count. */
  def jobsStarted[T](body: => T): (T, Int) = {
    val log = new Harness.StageLog(spark)
    try {
      val (out, _, jobs) = log.run(body)
      (out, jobs)
    } finally log.close()
  }
}
