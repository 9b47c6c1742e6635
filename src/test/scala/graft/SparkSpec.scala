package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites, at
  * `local[4]` whatever `SPARK_GRAFT_CPUS` says, with the log levels of
  * [[Harness.session]]. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Harness.quietLogs(s)
    s
  }

  /** A session over the same context with broadcasting off
    * (`spark.sql.autoBroadcastJoinThreshold=-1`): frames built in it
    * take the scale paths that the broadcast bound gates (the
    * distributed DBSCAN). Its own conf, so no other suite sees it. */
  lazy val noBroadcast: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  lazy val noBroadcast: SparkSession = SparkSpec.noBroadcast
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

  private var scratchRoot: Option[Path] = None

  /** A fresh directory named `prefix…` under this suite's scratch root,
    * which `afterAll` deletes with everything in it. */
  def tempDir(prefix: String): Path = synchronized {
    val root = scratchRoot.getOrElse(Files.createTempDirectory(s"graft_${getClass.getSimpleName}_"))
    scratchRoot = Some(root)
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try scratchRoot.foreach { root =>
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } finally super.afterAll()
}
