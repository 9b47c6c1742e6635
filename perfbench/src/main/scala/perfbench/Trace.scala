package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters summed over the jobs of one job group. */
final class Counters {
  var jobs, stages, tasks, oneTaskStages = 0L
  var cpuNs, gcMs, shuffleWriteBytes, shuffleWriteRecords = 0L
  var shuffleReadBytes, spillBytes, inputBytes = 0L
  val persisted = mutable.Set[Int]()
  val checkpointed = mutable.Set[Int]()

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    oneTaskStages += o.oneTaskStages; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes
    persisted ++= o.persisted; checkpointed ++= o.checkpointed
  }
}

/** Listener that attributes every job, stage and task to the job group
  * it ran under (the id of the benchmark span open at submission; ""
  * outside spans), and tracks the bytes held by persisted and
  * locally-checkpointed RDD blocks from block-update events. */
final class Recorder extends SparkListener {
  private val groups = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val blocks = mutable.Map[String, Long]()
  private var held = 0L
  private var peak = 0L

  private def group(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    val c = group(g)
    c.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = group(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    c.stages += 1
    c.tasks += e.stageInfo.numTasks
    if (e.stageInfo.numTasks == 1) c.oneTaskStages += 1
    e.stageInfo.rddInfos.foreach { r =>
      if (r.storageLevel.isValid) {
        if (r.callSite.contains("localCheckpoint")) c.checkpointed += r.id
        else c.persisted += r.id
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = group(stageGroup.getOrElse(e.stageId, ""))
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      peak = math.max(peak, held)
    }
  }

  def counters(g: String): Counters = synchronized {
    val c = new Counters
    groups.get(g).foreach(c += _)
    c
  }

  /** Peak bytes held by RDD blocks so far. */
  def storagePeak: Long = synchronized(peak)
}

final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Spans recorded by the benchmark's own code. While `on` is false,
  * `span` only runs its body. While on, each span sets the Spark job
  * group to its id, so the [[Recorder]] attributes the span's jobs to
  * it; the enclosing span's group is restored when it closes. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  var pass = 0
  var on = false
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), pass, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span time minus the time covered by its direct child spans. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Counters of a span and all its descendants. */
  def inclusive(rec: Recorder, s: Span): Counters = {
    val c = rec.counters(s.id.toString)
    children(s.id).foreach(ch => c += inclusive(rec, ch))
    c
  }
}
