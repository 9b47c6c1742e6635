package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The run machinery every main shares — Bench and Verify (the two
  * `SparkEntry` consumers) and the dev tools under `graft.tools`:
  *   - [[session]]: the one SparkSession builder;
  *   - [[quietLogs]]: its log levels, shared with the test session;
  *   - [[reclaim]]: free what a run left in executor storage;
  *   - [[timed]]: snapshot, time, reclaim — one measured run;
  *   - [[StageLog]]: per-stage task counts and times and the job count,
  *     attributed to a run;
  *   - [[jsonString]]: the JSON string escaper of the mains' artifacts.
  */
object Harness {

  /** Cores of the local master and the shuffle partition count. The
    * only place `SPARK_GRAFT_CPUS` is read. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** A fresh `local[cpus]` session (any active/default session is
    * dropped first, so a main can rebuild after its context died). */
  def session(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    quietLogs(spark)
    spark
  }

  /** WARN for `spark`'s context, ERROR for two loggers whose warnings
    * are expected by design. */
  def quietLogs(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    // reclaim and LoopFrames unpersist checkpointed loop RDDs on purpose;
    // each logs a "lineage has been truncated" WARN — hundreds per full
    // run, drowning real warnings (VERDICT r11 cosmetic #3). Expected
    // by design here, so silence just that logger, not the level.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // each unpartitioned window WARNs per run (~200 lines a Verify).
    // PlanAuditSpec is the gate: it fails a registry query with an
    // unpartitioned WindowExec its globalWindowAllowed does not justify.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** Unpersist every persistent RDD not in `before` — reclaims the
    * localCheckpoint blocks a query leaves behind (they are scoped to
    * the query's lineage; nothing outside the run can reference them).
    *
    * Also clears the session CacheManager (r11): operators that
    * `persist()` register an InMemoryRelation keyed BY PLAN there.
    * Unpersisting the raw RDD permanently disables that entry
    * (storageLevel becomes NONE and never re-arms), so the NEXT run
    * of the same query gets a silent cache-miss relation — every
    * downstream scan recomputes the supposedly-materialized frame
    * (measured: dd_containment run 3 at 2× run 2 before this fix).
    * clearCache drops the stale entries so each run re-registers and
    * genuinely caches. NEVER drop it or move it after the sweep. */
  def reclaim(spark: SparkSession, before: Set[Int]): Unit =
    if (!spark.sparkContext.isStopped) {
      try spark.catalog.clearCache() catch { case _: Throwable => }
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id))
          try rdd.unpersist(blocking = false) catch { case _: Throwable => }
      }
    }

  /** One measured run: `body`'s result and its wall seconds. Whatever
    * `body` persisted or checkpointed is reclaimed afterwards — also
    * when it throws — so storage stays flat across a suite (the r05
    * suite death) and a repeated run genuinely re-caches. */
  def timed[T](spark: SparkSession)(body: => T): (T, Double) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally reclaim(spark, before)
  }

  /** One completed stage: id, task count, wall seconds (submission to
    * completion), executor CPU milliseconds, and its RDD-scope chain
    * (the stage name when no scope is recorded). */
  final case class Stage(id: Int, tasks: Int, wallS: Double, cpuMs: Long, name: String)

  /** The one stage and job listener. [[run]] puts `body` in a fresh
    * job group (local properties propagate to the threads Spark runs a
    * query's jobs on), so jobs and stages of anything else on the
    * session never count. A marker job in a second group then flushes
    * the asynchronous listener bus: events arrive in order, so once the
    * marker's job start is seen every job start and stage of the run
    * has been seen — no sleep, no late events leaking into the next
    * run. */
  final class StageLog(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val byGroup = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Stage]]()
    private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    private val markers = new ConcurrentHashMap[String, CountDownLatch]()
    sc.addSparkListener(this)

    private def group(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      group(e.properties).filter(byGroup.containsKey)
        .foreach(stageGroup.put(e.stageInfo.stageId, _))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageGroup.remove(si.stageId)).flatMap(g => Option(byGroup.get(g))).foreach { q =>
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield (c - s) / 1e3).getOrElse(-1.0)
        val scopes = si.rddInfos.map(r => r.scope.map(_.name).getOrElse(r.name)).distinct
        q.add(Stage(si.stageId, si.numTasks, wall,
          si.taskMetrics.executorCpuTime / 1000000L,
          if (scopes.isEmpty) si.name else scopes.mkString("<-")))
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      group(e.properties).foreach { g =>
        Option(jobs.get(g)).foreach(_.incrementAndGet())
        Option(markers.get(g)).foreach(_.countDown())
      }

    /** `body`'s result, the stages it completed (in completion order)
      * and the number of jobs it started. Throws when the listener bus
      * does not flush within a minute: a short count must never read
      * as a real one. */
    def run[T](body: => T): (T, Seq[Stage], Int) = {
      val (g, marker) = (java.util.UUID.randomUUID().toString, java.util.UUID.randomUUID().toString)
      val flushed = new CountDownLatch(1)
      byGroup.put(g, new ConcurrentLinkedQueue[Stage]())
      jobs.put(g, new AtomicInteger)
      markers.put(marker, flushed)
      try {
        sc.setJobGroup(g, "StageLog run")
        val out = body
        sc.setJobGroup(marker, "StageLog flush")
        sc.parallelize(Seq(1), 1).count()
        if (!flushed.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("listener bus never flushed: stage and job counts would be short")
        (out, byGroup.get(g).asScala.toSeq, jobs.get(g).get)
      } finally {
        sc.clearJobGroup()
        byGroup.remove(g)
        jobs.remove(g)
        markers.remove(marker)
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a consumer's json.load fail and silently zero a
    * run's artifact. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
