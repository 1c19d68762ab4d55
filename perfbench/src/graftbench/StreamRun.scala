package graftbench

import graft.merge.{MergeConfig, MergeResult}
import graft.stream.{CdcStream, StreamConfig}
import graft.table.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bytes of files that appeared or changed under a root since the first
  * scan; files deleted between scans are still counted once seen. Files
  * still being written (Spark's `_temporary` and staging directories, the
  * lineage `_tmp-` directory, `.tmp-` manifests) are skipped: they are
  * counted under the name they are renamed to, so a scan that happens to
  * catch them mid-write would count their bytes twice.
  */
final class WriteTracker(root: File) {
  private val seen = mutable.HashMap.empty[String, Long]
  private var started = false
  var total = 0L
  var meta = 0L

  private def inProgress(name: String): Boolean = {
    val n = name.dropWhile(_ == '.')
    n.startsWith("_temporary") || n.startsWith("_tmp") || n.startsWith("tmp-") ||
      n.startsWith("spark-staging")
  }

  def scan(): Unit = synchronized {
    def walk(f: File): Unit =
      if (inProgress(f.getName)) ()
      else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else {
        val len = f.length()
        val path = f.getPath
        if (!seen.get(path).contains(len)) {
          if (started) {
            total += len
            if (path.contains("/meta/")) meta += len
          }
          seen(path) = len
        }
      }
    if (root.exists()) walk(root)
    started = true
  }
}

/** How one stream batch ended, seen from the `onBatch` hook: when the hook
  * ran (the end of the batch's foreachBatch body) and when its table
  * commit landed (the mtime of the snapshot head the merge wrote).
  */
final case class BatchEnd(batchId: Long, endNs: Long, commitNs: Long,
    version: Long, skipped: Boolean, gcMs: Long)

/** The `trickle_tail` workload's moving parts: the stream, the open-loop
  * file dropper and the snapshot reader.
  */
final class StreamRun(spark: SparkSession, tracer: Tracer, rootSpan: Long,
    table: LakeTable, cfg: MergeConfig, p: Params, watch: String,
    genPhaseDir: String, checkpointDir: String, bench: Bench) {

  private val ends = new ConcurrentHashMap[Long, BatchEnd]()
  private val schedNs = new ConcurrentHashMap[Long, Long]()
  private var q: StreamingQuery = _
  private val tracker = new WriteTracker(new File(table.root))
  var warmMaxBatch = -1L
  var producerLateMaxS = 0.0
  var readerLateMaxS = 0.0
  var triggersAttempted = 0L
  var triggersFailed = 0L
  var timedSegs: Seq[Long] = Nil
  var versionsAtStart = 0L
  var versionsAtEnd = 0L
  var batchOfFile: Map[String, Long] = Map.empty
  var exhausted = false

  def bytesWritten: Long = tracker.total
  def metaBytesWritten: Long = tracker.meta

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def onBatch(batchId: Long, res: MergeResult): Unit = {
    val now = Clock.nowNs
    val head = Paths.get(table.root, "meta", f"v${res.version}%020d.json")
    val commitNs =
      try Files.getLastModifiedTime(head).to(TimeUnit.NANOSECONDS)
      catch { case _: Exception => now }
    ends.put(batchId, BatchEnd(batchId, now, commitNs, res.version, res.skipped, gcMs()))
  }

  /** Move segment `s` from the generator's output into the watched
    * directory, stamping its files' mtime with the drop time first.
    */
  private def drop(s: Long): Unit = {
    val src = new File(s"$genPhaseDir/seg=$s")
    val now = System.currentTimeMillis()
    Option(src.listFiles()).getOrElse(Array.empty).foreach(_.setLastModified(now))
    Files.move(src.toPath, Paths.get(s"$watch/seg=$s"))
  }

  /** Start the stream on the first warm file, then feed the others one
    * batch each. Each warm file is its own batch, so the stream has applied
    * exactly `warmSegs.size` batches when timing starts; with the fixed
    * trigger interval its maintenance cycle (every Nth applied batch) then
    * falls on the same timed trigger in every run.
    */
  def start(warmSegs: Seq[Long]): Unit = {
    drop(warmSegs.head)
    spark.sparkContext.setLocalProperty(JobListener.ThreadProp, "stream")
    q = CdcStream.start(spark, StreamConfig(
      feedDir = watch,
      tableDir = table.root,
      checkpointDir = checkpointDir,
      checkpointId = "cdc",
      maxFilesPerTrigger = p.i("maxFilesPerTrigger"),
      processingTime = Some(s"${p.i("triggerIntervalMs")} milliseconds"),
      merge = cfg,
      maintenanceEvery = p.i("maintenanceEvery"),
      maintenanceBuckets = p.i("maintenanceBuckets"),
      retainSnapshots = p.i("retainSnapshots"),
      tombstoneSlackLsn = p.l("tombstoneSlackLsn")), onBatch)
    spark.sparkContext.setLocalProperty(JobListener.ThreadProp, "main")
    q.processAllAvailable()
    warmSegs.tail.foreach { s =>
      drop(s)
      q.processAllAvailable()
    }
    warmMaxBatch = ends.keys().asScala.maxOption.getOrElse(-1L)
  }

  private def sleepUntil(ns: Long): Unit = {
    var left = ns - Clock.nowNs
    while (left > 0) {
      Thread.sleep(left / 1000000L, (left % 1000000L).toInt)
      left = ns - Clock.nowNs
    }
  }

  /** The open-loop phase: drop `segs` at `rate` files/s and read the
    * snapshot every `readIntervalS`, for `seconds`; then let the stream
    * drain what was dropped.
    */
  def timed(segs: Seq[Long], rate: Double, seconds: Int, t0: Long): Unit = {
    val deadline = t0 + seconds * 1000000000L
    exhausted = t0 + (segs.size * 1e9 / rate).toLong < deadline
    versionsAtStart = table.currentVersion()
    tracker.scan()
    val timedSpan = tracer.nextId()
    val dropped = mutable.ArrayBuffer.empty[Long]
    val producer = new Thread(() => {
      segs.zipWithIndex.iterator
        .map { case (s, i) => (s, t0 + (i * 1e9 / rate).toLong) }
        .takeWhile(_._2 < deadline)
        .foreach { case (s, sched) =>
          sleepUntil(sched)
          val a0 = Clock.nowNs
          drop(s)
          schedNs.put(s, sched)
          dropped += s
          producerLateMaxS = producerLateMaxS.max((a0 - sched) / 1e9)
          tracer.record(timedSpan, "changegen", "drop", a0, Clock.nowNs,
            Map("seg" -> s.toString))
          tracker.scan()
        }
    }, "graftbench-producer")
    val readInterval = (p.d("readIntervalS") * 1e9).toLong
    val reader = new Thread(() => {
      spark.sparkContext.setLocalProperty(JobListener.ThreadProp, JobListener.ReaderThread)
      // reads fall midway between trigger boundaries
      Iterator.from(0).map(k => t0 + readInterval / 2 + k * readInterval).takeWhile(_ < deadline)
        .foreach { sched =>
          sleepUntil(sched)
          readerLateMaxS = readerLateMaxS.max((Clock.nowNs - sched) / 1e9)
          bench.snapshotRead(table, timedSpan)
        }
    }, "graftbench-reader")
    producer.start()
    reader.start()
    producer.join()
    reader.join()
    sleepUntil(deadline)
    tracer.add(Span(timedSpan, rootSpan, "bench", "timed", t0, Clock.nowNs))
    bench.endTimedAt(deadline)
    timedSegs = dropped.toSeq
    tracer.span(rootSpan, "stream", "drain")(_ => q.processAllAvailable())
    tracker.scan()
    versionsAtEnd = table.currentVersion()
    q.stop()
    val timedBatches = ends.values().asScala.filter(_.batchId > warmMaxBatch)
    triggersAttempted = timedBatches.size.toLong
    q.exception.foreach { e =>
      bench.note(s"stream failed: $e")
      triggersAttempted += 1
      triggersFailed = triggersAttempted
    }
    batchOfFile = StreamRun.sourcesLog(checkpointDir)
  }

  def batchEnds: Seq[BatchEnd] = ends.values().asScala.toSeq.sortBy(_.batchId)

  private def batchOfSeg: Map[Long, Long] = batchOfFile.toSeq.flatMap { case (f, b) =>
    "seg=(\\d+)".r.findFirstMatchIn(f).map(m => m.group(1).toLong -> b)
  }.toMap

  /** Per timed file: (scheduled drop, batch that admitted it). */
  def timedFiles: Seq[(Long, Long)] = {
    val bs = batchOfSeg
    timedSegs.flatMap(s => bs.get(s).map(b => (schedNs.get(s), b)))
  }

  /** The timed files whose batch's table commit landed by `endNs`, and
    * the last such commit (`endNs` when there is none).
    */
  def committedBy(endNs: Long): (Seq[Long], Long) = {
    val bs = batchOfSeg
    val c = timedSegs.flatMap(s => bs.get(s).flatMap(b => Option(ends.get(b)))
      .filter(_.commitNs <= endNs).map(e => (s, e.commitNs)))
    (c.map(_._1), c.map(_._2).maxOption.getOrElse(endNs))
  }

  /** Commit latency of every file dropped in the timed window: from its
    * scheduled drop to the table commit of the batch that admitted it.
    */
  def fileLatenciesS: Seq[Double] = timedFiles.flatMap { case (sched, b) =>
    Option(ends.get(b)).map(e => (e.commitNs - sched) / 1e9)
  }

  /** Batches that ran an inline maintenance cycle (the stream counts
    * applied batches since it started and maintains every Nth).
    */
  def maintenanceBatches: Set[Long] = {
    val every = p.i("maintenanceEvery")
    batchEnds.filterNot(_.skipped).zipWithIndex
      .collect { case (e, i) if every > 0 && (i + 1) % every == 0 => e.batchId }.toSet
  }
}

object StreamRun {
  def norm(uri: String): String =
    try Option(new java.net.URI(uri).getPath).getOrElse(uri)
    catch { case _: Exception => uri }

  private val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r

  /** file -> batch id, from the file source's log in the checkpoint
    * (`sources/0/<batchId>` and its `.compact` roll-ups).
    */
  def sourcesLog(checkpointDir: String): Map[String, Long] = {
    val dir = new File(s"$checkpointDir/sources/0")
    Option(dir.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n")
          .flatMap(Entry.findFirstMatchIn(_)).map(m => norm(m.group(1)) -> m.group(2).toLong)
      }.toMap
  }
}
