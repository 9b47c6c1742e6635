package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop benchmark client: one workload, one fresh JVM, one
  * op at a time. Driven by run.py, which generates the inputs and runs
  * the DuckDB oracle; this side times the passes and writes
  * `<work>/result.json`.
  *
  * Args: <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir>
  *
  * Protocol on stdout/stdin (ztf_pipeline and dedup_ann_x4): after the
  * session starts it writes the ops' oracle SQL to
  * `<work>/oracle_sql.json`, prints `@@ORACLE <path>`, and blocks until
  * run.py answers `@@GO <dir>` on stdin, `<dir>/<op>.parquet` holding
  * every op's oracle result. */
object Main {
  /** Passes per run at least: the cold pass plus one warm pass (in a
    * traced run, one traced and one untraced warm pass). More warm
    * passes follow while the passes so far measured under `seconds`. */
  def minPasses(trace: Boolean): Int = if (trace) 3 else 2
  val MaxPasses = 12

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dir, workS) = args
    val (seed, seconds, trace, work) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", Paths.get(workS))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probeBefore = probe()

    // the reference each op is checked against: the lakehouse model, or
    // the oracle SQL (run.py times the DuckDB share)
    val tracer = new Tracer(spark.sparkContext)
    val t1 = System.nanoTime()
    val lake = if (workload == "lakehouse_rw")
      Some(new Lakehouse(spark, dir, work, seed, tracer)) else None
    val (oracleDir, oracleJvmS) =
      if (lake.nonEmpty) ("", (System.nanoTime() - t1) / 1e9)
      else {
        val path = work.resolve("oracle_sql.json")
        Files.writeString(path, Json.render(Workloads.oracleSql(workload, spark, dir)))
        val jvmS = (System.nanoTime() - t1) / 1e9
        println(s"@@ORACLE $path")
        Console.flush()
        val reply = Option(scala.io.StdIn.readLine()).getOrElse("")
        require(reply.startsWith("@@GO "), s"oracle step failed: $reply")
        (reply.stripPrefix("@@GO "), jvmS)
      }

    val passes = mutable.ArrayBuffer[PassRecord]()
    val ops = if (lake.isEmpty) Workloads.ops(workload, new Ctx(spark, dir, tracer)) else Nil
    var measured = 0.0
    while (passes.size < minPasses(trace) || (measured < seconds && passes.size < MaxPasses)) {
      val p = passes.size + 1
      // the cold pass and every other warm pass run untraced
      val traced = trace && p > 1 && p % 2 == 0
      tracer.pass = p
      tracer.on = traced
      val r = try lake match {
        case Some(l) => l.runPass(p)
        case None    => runOps(p, spark, ops, traced)
      } finally tracer.on = false
      passes += r
      measured += r.seconds
    }
    val probeAfter = probe()

    // outside the timed passes: every op output against its oracle
    val t3 = System.nanoTime()
    val expected = ops.map(o => o.name -> oracleFingerprint(spark, s"$oracleDir/${o.name}")).toMap
    val failures = passes.toSeq.flatMap { r =>
      r.errors.map(e => s"pass ${r.pass} $e") ++ r.outputs.collect {
        case (n, f) if !expected.get(n).contains(f) =>
          s"pass ${r.pass} $n: got $f, oracle ${expected.get(n)}"
      }
    }
    failures.foreach(f => System.err.println(s"[perfbench] $f"))
    Thread.sleep(500) // let the listener bus deliver the last events
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup" -> Map("session_s" -> sessionS, "oracle_jvm_s" -> oracleJvmS,
        "check_s" -> (System.nanoTime() - t3) / 1e9),
      "window" -> Map("probe_before_s" -> probeBefore, "probe_after_s" -> probeAfter),
      "passes" -> passes.map(_.json).toSeq,
      "failures" -> failures.take(20),
      "attempted" -> passes.map(_.attempted).sum,
      "failed" -> failures.size) ++
      Results.of(trace, passes.toSeq, failures.size, tracer, rec, spark, dir)
    Files.writeString(work.resolve("result.json"), Json.render(out))
    if (trace) Files.writeString(work.resolve("spans.json"), Results.spansJson(tracer, rec))
    spark.stop()
  }

  /** One pass: per-op wall times, the outputs to check, and any errors
    * (a failed lakehouse read check is an error too). */
  final case class PassRecord(pass: Int, traced: Boolean, ops: Seq[(String, Double)],
                              outputs: Seq[(String, Fingerprint)], errors: Seq[String],
                              counts: Map[String, Long] = Map.empty,
                              lake: Option[Lakehouse.PassResult] = None) {
    def seconds: Double = ops.map(_._2).sum
    def attempted: Int = ops.size
    def json: Map[String, Any] = Map("pass" -> pass, "traced" -> traced, "seconds" -> seconds,
      "ops" -> ops.map { case (n, s) => Map("op" -> n, "seconds" -> s) })
  }

  private def runOps(p: Int, spark: SparkSession, ops: Seq[Op], traced: Boolean): PassRecord = {
    val times = mutable.ArrayBuffer[(String, Double)]()
    val outputs = mutable.ArrayBuffer[(String, Fingerprint)]()
    val errors = mutable.ArrayBuffer[String]()
    val counts = mutable.Map[String, Long]()
    ops.foreach { op =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try {
        val o = if (traced) op.traced() else op.run()
        times += op.name -> (System.nanoTime() - t0) / 1e9
        outputs += op.name -> o.fp
        counts ++= o.counts
      } catch {
        case e: Throwable =>
          times += op.name -> (System.nanoTime() - t0) / 1e9
          errors += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      reclaim(spark, before)
    }
    PassRecord(p, traced, times.toSeq, outputs.toSeq, errors.toSeq, counts.toMap)
  }

  /** Fingerprint of a cached oracle result, itself cached beside it. */
  private def oracleFingerprint(spark: SparkSession, base: String): Fingerprint = {
    val cached = Paths.get(s"$base.fp")
    if (Files.exists(cached)) {
      val Array(cols, rows, hash) = Files.readString(cached).split("\n")
      Fingerprint(cols, rows.toLong, BigDecimal(hash))
    } else {
      val f = Fingerprint.of(spark.read.parquet(s"$base.parquet"))._1
      Files.writeString(cached, s"${f.columns}\n${f.rows}\n${f.hash}")
      f
    }
  }

  /** Between ops, as graft.Bench does: drop cached plans, then every
    * RDD the op left persisted (its persist/localCheckpoint blocks). */
  private def reclaim(spark: SparkSession, before: collection.Set[Int]): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => }
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) try rdd.unpersist(blocking = true) catch { case _: Throwable => }
    }
  }

  /** Fixed CPU probe (min of 3): a contended window reads slower. */
  def probe(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + i; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }.min
}
