package perfbench

import org.apache.spark.sql.SparkSession

import graft.core.Tables

/** Turns the recorded passes and spans into the metrics run.py reports:
  * `e2e` from the untraced warm passes, `per_layer` (traced runs only)
  * as the median over the traced warm passes of each pass's value. */
object Results {
  private val MB = 1024.0 * 1024.0

  val PipelineStages = Seq("eager", "loaded", "selected", "withCoords", "clustered", "matched",
    "merged", "kept", "clean", "bandRef", "wellCal", "result")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.max(0, math.ceil(q * xs.size).toInt - 1))

  def of(trace: Boolean, passes: Seq[Main.PassRecord], failed: Int, tracer: Tracer,
         rec: Recorder, spark: SparkSession, dir: String): Map[String, Any] = {
    val warm = passes.tail
    val (tracedWarm, plainWarm) = warm.partition(_.traced)
    val e2e = Map[String, Any](
      "cold_pass_s" -> passes.head.seconds,
      "warm_pass_s" -> median(plainWarm.map(_.seconds)),
      "storage_peak_mb" -> rec.storagePeak / MB,
      "op_fail_frac" -> failed.toDouble / math.max(1, passes.map(_.attempted).sum)) ++
      lakeMetrics(warm)
    val layer =
      if (!trace) Map.empty[String, Any]
      else {
        val rows = (t: String) => Tables.parquetRowCount(spark, dir, t).toDouble
        val perPass = tracedWarm.map(p => passLayer(p, tracer, rec, rows))
        perPass.flatMap(_.keys).distinct.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0))))
          .toMap ++ e2e ++ Map(
          "trace.overhead_s" -> (median(tracedWarm.map(_.seconds)) - median(plainWarm.map(_.seconds))))
      }
    Map("e2e" -> e2e, "per_layer" -> layer)
  }

  private def lakeMetrics(warm: Seq[Main.PassRecord]): Map[String, Any] = {
    val lake = warm.flatMap(_.lake)
    if (lake.isEmpty) return Map.empty
    val ms = (kind: String) => warm.flatMap(_.ops).collect { case (`kind`, s) => s * 1000 }
    Map(
      "update_ms_p50" -> pct(ms("update"), 0.5),
      "delete_ms_p50" -> pct(ms("delete"), 0.5),
      "compact_ms_p50" -> pct(ms("compact"), 0.5),
      "read_ms_p50" -> pct(ms("read"), 0.5),
      "read_ms_p90" -> pct(ms("read"), 0.9),
      "reads_above_p90" -> ms("read").count(_ > pct(ms("read"), 0.9)),
      "write_amp" -> median(lake.map(r => r.bytesWritten.toDouble / r.liveBytes)),
      "space_amp" -> median(lake.map(r => r.diskBytesAfterExpire.toDouble / r.liveBytes)))
  }

  private def passLayer(p: Main.PassRecord, tracer: Tracer, rec: Recorder,
                        rows: String => Double): Map[String, Double] = {
    val spans = tracer.spans.filter(_.pass == p.pass).toSeq
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def self(name: String) = spans.filter(_.name == name).map(tracer.selfSeconds).sum
    def incl(name: String) = {
      val c = new Counters
      spans.filter(_.name == name).foreach(s => c += tracer.inclusive(rec, s))
      c
    }
    val all = new Counters
    spans.filter(_.parent == -1).foreach(s => all += tracer.inclusive(rec, s))
    val count = (k: String) => p.counts.getOrElse(k, 0L).toDouble
    def nsPerRow(span: String, n: => Double) =
      if (spans.exists(_.name == span)) total(span) * 1e9 / n else 0.0

    val spark = Map(
      "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble, "spark.one_task_stages" -> all.oneTaskStages.toDouble,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9, "spark.gc_s" -> all.gcMs / 1e3,
      "spark.shuffle_write_mb" -> all.shuffleWriteBytes / MB,
      "spark.shuffle_read_mb" -> all.shuffleReadBytes / MB,
      "spark.spill_mb" -> all.spillBytes / MB, "spark.input_mb" -> all.inputBytes / MB,
      "spark.persist_count" -> all.persisted.size.toDouble,
      "spark.checkpoint_count" -> all.checkpointed.size.toDouble,
      "core.load_s" -> total("core.load"))
    val pipeline = PipelineStages.map(s => s"pipeline.$s.self_s" -> self(s"pipeline.$s")).toMap
    val operators = Map(
      "operators.clustering.dbscan_s" -> total("operators.clustering.dbscan"),
      "operators.clustering.dbscan_jobs" -> incl("operators.clustering.dbscan").jobs.toDouble,
      "operators.spatial.nn_join_s" -> total("operators.spatial.nn_join"),
      "operators.spatial.pairs_out" -> count("operators.spatial.pairs_out"),
      "operators.joins.merge_s" -> total("operators.joins.merge"),
      "operators.outliers.iqr_s" -> total("operators.outliers.iqr"),
      "core.query_dialect_s" -> total("core.query_dialect"),
      "functions.calmag_ns_per_row" -> nsPerRow("functions.calmag", rows("lineitem")),
      "operators.dedup.containment_s" -> total("operators.dedup.containment"),
      "operators.dedup.containment_shuffle_records" ->
        incl("operators.dedup.containment").shuffleWriteRecords.toDouble,
      "operators.dedup.containment_pairs_out" -> count("operators.dedup.containment_pairs_out"),
      "operators.dedup.minhash_candidates" -> count("operators.dedup.minhash_candidates"),
      "operators.dedup.minhash_verified" -> count("operators.dedup.minhash_verified"),
      "operators.dedup.minhash_yield" -> {
        val c = count("operators.dedup.minhash_candidates")
        if (c > 0) count("operators.dedup.minhash_verified") / c else 0.0
      },
      "operators.vectors.train_ivf_s" -> total("operators.vectors.train_ivf"),
      "operators.vectors.train_pq_s" -> total("operators.vectors.train_pq"),
      "operators.vectors.ivfpq_query_s" -> total("operators.vectors.ivfpq_query"),
      "operators.vectors.pq_codes_ns_per_row" ->
        nsPerRow("operators.vectors.pq_codes", count("operators.vectors.pq_codes_rows")),
      "operators.text.quality_ns_per_row" ->
        nsPerRow("operators.text.quality", rows("documents")))
    val snap = p.lake.map { r =>
      val n = math.max(1, r.filesPerRead.size).toDouble
      Map(
        "sources.snapshots.commit_s" ->
          (total("sources.snapshots.commit") + total("sources.snapshots.update")),
        "sources.snapshots.delete_commit_s" -> total("sources.snapshots.delete"),
        "sources.snapshots.compact_s" -> total("sources.snapshots.compact"),
        "sources.snapshots.read_s" -> total("sources.snapshots.read"),
        "sources.snapshots.expire_s" -> total("sources.snapshots.expire"),
        "sources.snapshots.files_written" -> r.filesWritten.toDouble,
        "sources.snapshots.bytes_written" -> r.bytesWritten.toDouble,
        "sources.snapshots.files_per_read" -> r.filesPerRead.sum / n,
        "sources.snapshots.delete_files_per_read" -> r.deleteFilesPerRead.sum / n)
    }.getOrElse(Map.empty)
    spark ++ pipeline ++ operators ++ snap
  }

  def spansJson(tracer: Tracer, rec: Recorder): String = {
    val t0 = tracer.spans.headOption.map(_.start).getOrElse(0L)
    Json.render(tracer.spans.toSeq.map { s =>
      val c = tracer.inclusive(rec, s)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> tracer.selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "one_task_stages" -> c.oneTaskStages,
        "executor_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteBytes / MB,
        "shuffle_read_mb" -> c.shuffleReadBytes / MB, "spill_mb" -> c.spillBytes / MB,
        "input_mb" -> c.inputBytes / MB, "persist_count" -> c.persisted.size,
        "checkpoint_count" -> c.checkpointed.size)
    })
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def render(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => quote(s)
    case b: Boolean                => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                 => d.toString
    case n: Number                 => n.toString
    case m: Map[_, _]              =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_]            => s.map(render).mkString("[", ", ", "]")
    case o                         => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
