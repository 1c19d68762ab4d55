package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch nanoseconds with nanoTime resolution. Spark stamps
  * job events with epoch milliseconds, so every span uses the same epoch
  * scale and the two can be intersected.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowNs: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** One traced interval. `layer` is the repo module it belongs to
  * (changegen, merge, table, stream) or `spark` for listener-observed
  * jobs; `parent` is the id of the span that caused it (0 = root).
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store; written out once, when the run ends. Disabled
  * tracers record nothing and cost one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def record(parent: Long, layer: String, name: String, startNs: Long,
      endNs: Long, attrs: Map[String, String] = Map.empty): Long = {
    val id = nextId()
    add(Span(id, parent, layer, name, startNs, endNs, attrs))
    id
  }

  /** Time `f` as a span; the span is recorded even if `f` throws. */
  def span[T](parent: Long, layer: String, name: String)(f: Long => T): T = {
    val id = nextId()
    val t0 = Clock.nowNs
    try f(id)
    finally add(Span(id, parent, layer, name, t0, Clock.nowNs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of its
    * interval its children cover.
    */
  def selfTimeByLayer(): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = Intervals.unionWithin(
          kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
        (s.durNs - covered).max(0L) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":"${Json.esc(s.layer)}",""")
      sb.append(s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}""")
      if (s.attrs.nonEmpty)
        sb.append(",\"attrs\":{" + s.attrs.map { case (k, v) =>
          s""""${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString(",") + "}")
      sb.append("}\n")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def unionWithin(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val startNs: Long, val site: String,
    val thread: String, val executionId: String) {
  @volatile var endNs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRows = 0L

  /** Call-site label without the line number, e.g. `collect at MergeInto.scala`. */
  def label: String = site.replaceAll(":\\d+$", "")
  def isReader: Boolean = thread == JobListener.ReaderThread
}

/** Records every job, stage and task of the session. Jobs are tied to the
  * benchmark's spans by time and by the `graftbench.thread` local property
  * the benchmark sets on its own threads.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, Clock.msToNs(e.time),
      last.map(_.name).getOrElse("<unknown>"), prop(JobListener.ThreadProp),
      prop("spark.sql.execution.id"))
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = Clock.msToNs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toSeq)
}

object JobListener {
  val ThreadProp = "graftbench.thread"
  val ReaderThread = "reader"
}

/** One streaming trigger's progress record. */
final case class Progress(batchId: Long, startNs: Long, rows: Long,
    durMs: Map[String, Long]) {
  def triggerMs: Long = durMs.getOrElse("triggerExecution", 0L)
  def addBatchMs: Long = durMs.getOrElse("addBatch", 0L)
  def hasBatch: Boolean = durMs.contains("addBatch")
}

final class ProgressListener extends StreamingQueryListener {
  private val recs = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    recs.add(Progress(p.batchId, Clock.msToNs(startMs), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Progress] = recs.asScala.toSeq.filter(_.hasBatch).sortBy(_.batchId)
}
