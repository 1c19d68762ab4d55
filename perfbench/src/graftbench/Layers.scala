package graftbench

import graft.table.LakeTable

import java.io.File

/** One merge call split into phases by the Spark jobs it ran, grouped by
  * SQL execution. The merge's first query is always the batch-stats
  * collect and, with lineage on, its last is the `_status` read-back; the
  * queries between them are the write. (Call sites cannot tell them apart
  * inside a stream: Spark stamps every job of a streaming query with the
  * query's own start() call site.)
  *
  * Every phase is a measured interval, bounded by the call's edges or by
  * listener-observed job edges: `pre` runs from the call to the first job,
  * `stats` is the stats query, `write` is the time the write jobs ran
  * (dedupe, join, broadcast builds, dead-letter and bucket writes), `post`
  * runs from the end of the last write job to the call's end, and
  * `readback` overlaps `post`. What none of them covers is the driver time
  * between the merge's queries (`uncoveredS`).
  */
final case class MergeSplit(win: ApplyWin, applyS: Double, preS: Double,
    statsS: Double, writeS: Double, postS: Double, readbackS: Double,
    coverFrac: Double, uncoveredS: Double, driverOnlyS: Double,
    writeFromNs: Long, writeToNs: Long,
    stats: Seq[JobRec], writes: Seq[JobRec], readback: Seq[JobRec]) {
  def jobs: Seq[JobRec] = stats ++ writes ++ readback
}

object Layers {
  private val ms = 1000000L

  def split(w: ApplyWin, all: Seq[JobRec]): MergeSplit = {
    // job edges are whole milliseconds: admit a job that started in the
    // millisecond the call began
    val js = all.filter(j => j.startNs >= w.a0 - ms && j.startNs <= w.a1 && !j.isReader)
    def end(j: JobRec): Long = (if (j.endNs < 0) w.a1 else j.endNs).min(w.a1)
    def start(j: JobRec): Long = j.startNs.max(w.a0)
    val queries = js.groupBy(j => if (j.executionId.isEmpty) s"job${j.id}" else j.executionId)
      .values.toSeq.map(_.sortBy(_.startNs)).sortBy(_.head.startNs)
    val stats = queries.headOption.getOrElse(Nil)
    val readback = if (queries.size >= 3) queries.last else Nil
    val writes = queries.drop(1).dropRight(if (readback.isEmpty) 0 else 1).flatten
    def iv(g: Seq[JobRec]): Option[(Long, Long)] =
      if (g.isEmpty) None else Some((g.map(start).min, g.map(end).max))
    val dur = (w.a1 - w.a0).toDouble
    val firstStart = js.map(start).minOption.getOrElse(w.a1)
    val statsIv = iv(stats)
    val writeFrom = statsIv.map(_._2).getOrElse(firstStart)
    val writeTo = (writes.map(end) :+ writeFrom).max
    val writeIvs = writes.map(j => (start(j), end(j)))
    val ivs = Seq((w.a0, firstStart), (writeTo, w.a1)) ++ statsIv.toSeq ++ writeIvs ++
      readback.map(j => (start(j), end(j)))
    val covered = Intervals.unionWithin(ivs, w.a0, w.a1)
    val jobCover = Intervals.unionWithin(js.map(j => (start(j), end(j))), w.a0, w.a1)
    MergeSplit(w, dur / 1e9, (firstStart - w.a0) / 1e9,
      statsIv.map { case (a, b) => (b - a) / 1e9 }.getOrElse(0.0),
      Intervals.unionWithin(writeIvs, w.a0, w.a1) / 1e9, (w.a1 - writeTo) / 1e9,
      Intervals.unionWithin(readback.map(j => (start(j), end(j))), w.a0, w.a1) / 1e9,
      if (dur <= 0) 1.0 else covered / dur, (dur - covered) / 1e9,
      (dur - jobCover) / 1e9, writeFrom, writeTo, stats, writes, readback)
  }

  /** Record a merge call's phases and jobs as spans under `w.spanId`. */
  private def traceSplit(t: Tracer, s: MergeSplit): Unit = {
    val w = s.win
    val preEnd = w.a0 + (s.preS * 1e9).toLong
    val pre = t.record(w.spanId, "merge", "merge.pre", w.a0, preEnd)
    val write = t.record(w.spanId, "merge", "merge.write", s.writeFromNs, s.writeToNs)
    t.record(w.spanId, "merge", "merge.post", s.writeToNs, w.a1)
    def job(parent: Long, kind: String)(j: JobRec): Unit =
      t.record(parent, "spark", kind, j.startNs.max(w.a0),
        (if (j.endNs < 0) w.a1 else j.endNs).min(w.a1),
        Map("job" -> j.id.toString, "site" -> j.label, "execution" -> j.executionId))
    s.stats.foreach(job(w.spanId, "merge.stats"))
    s.writes.foreach(job(write, "merge.write.job"))
    s.readback.foreach(job(w.spanId, "merge.readback"))
    if (s.stats.isEmpty && s.writes.isEmpty) t.record(pre, "merge", "merge.no_jobs", w.a0, preEnd)
  }

  def merge(out: MetricSet, wins: Seq[ApplyWin], jobs: Seq[JobRec], nproc: Int,
      tracer: Tracer): Seq[MergeSplit] = {
    val splits = wins.map(split(_, jobs))
    splits.foreach(traceSplit(tracer, _))
    def p50(f: MergeSplit => Double): Double = Stats.median(splits.map(f))
    val n = splits.size.max(1).toDouble
    val events = wins.map(_.events).sum.max(1L).toDouble
    val applyTotal = splits.map(_.applyS).sum.max(1e-9)
    def jobSum(f: JobRec => Long): Double = splits.flatMap(_.jobs).map(f).sum.toDouble
    def writeJobSum(f: JobRec => Long): Double = splits.flatMap(_.writes).map(f).sum.toDouble
    out.put("merge.apply_s_p50", p50(_.applyS), "s")
    out.put("merge.pre_s_p50", p50(_.preS), "s")
    out.put("merge.stats_s_p50", p50(_.statsS), "s")
    out.put("merge.write_s_p50", p50(_.writeS), "s")
    out.put("merge.post_s_p50", p50(_.postS), "s")
    out.put("merge.readback_s_p50", p50(_.readbackS), "s")
    out.put("merge.jobs_per_batch", splits.map(_.jobs.size).sum / n, "count")
    out.put("merge.stages_per_batch", jobSum(_.stages) / n, "count")
    out.put("merge.tasks_per_batch", jobSum(_.tasks) / n, "count")
    out.put("merge.serial_frac", splits.map(_.driverOnlyS).sum / applyTotal, "ratio")
    out.put("merge.slot_busy_frac", jobSum(_.runMs) / 1000.0 / (applyTotal * nproc), "ratio")
    out.put("merge.task_cpu_s_per_event", jobSum(_.cpuNs) / 1e9 / events, "s")
    out.put("merge.shuffle_write_bytes_per_event", jobSum(_.shuffleWrite) / events, "B")
    out.put("merge.shuffle_read_bytes_per_event", jobSum(_.shuffleRead) / events, "B")
    out.put("merge.input_bytes_per_event", writeJobSum(_.inputBytes) / events, "B")
    out.put("merge.output_rows_per_event", writeJobSum(_.outputRows) / events, "count")
    out.put("merge.output_bytes_per_event", writeJobSum(_.outputBytes) / events, "B")
    out.put("merge.gc_s_per_batch", wins.map(_.gcMs).sum / 1000.0 / n, "s")
    out.put("merge.cover_frac_min",
      if (splits.isEmpty) 0.0 else splits.map(_.coverFrac).min, "ratio")
    out.put("merge.uncovered_s_p50", p50(_.uncoveredS), "s")
    out.put("merge.batches", splits.size.toDouble, "count")
    splits
  }

  /** Stream metrics of the timed triggers; all 0 on closed-loop workloads. */
  def stream(out: MetricSet, run: Option[StreamRun], prog: Seq[Progress],
      t0: Long, t1: Long): Unit = {
    val timed = run.map(r => prog.filter(_.batchId > r.warmMaxBatch)).getOrElse(Nil)
    def p50(f: Progress => Double): Double = Stats.median(timed.map(f))
    def phaseS(k: String)(pr: Progress): Double = pr.durMs.getOrElse(k, 0L) / 1000.0
    out.put("stream.trigger_s_p50", p50(_.triggerMs / 1000.0), "s")
    out.put("stream.add_batch_s_p50", p50(phaseS("addBatch")), "s")
    out.put("stream.latest_offset_s_p50", p50(phaseS("latestOffset")), "s")
    out.put("stream.wal_commit_s_p50", p50(phaseS("walCommit")), "s")
    out.put("stream.commit_offsets_s_p50", p50(phaseS("commitOffsets")), "s")
    out.put("stream.query_planning_s_p50", p50(phaseS("queryPlanning")), "s")
    out.put("stream.overhead_s_p50", p50(pr => (pr.triggerMs - pr.addBatchMs) / 1000.0), "s")
    val byBatch = timed.map(pr => pr.batchId -> pr).toMap
    val waits = run.map(_.timedFiles.flatMap { case (sched, b) =>
      byBatch.get(b).map(pr => (pr.startNs - sched) / 1e9) }).getOrElse(Nil)
    out.put("stream.wait_s_p50", Stats.median(waits), "s")
    out.put("stream.rows_per_trigger_p50", p50(_.rows.toDouble), "count")
    val busy = Intervals.unionWithin(
      timed.map(pr => (pr.startNs, pr.startNs + pr.triggerMs * 1000000L)), t0, t1)
    out.put("stream.idle_frac", if (run.isEmpty || t1 <= t0) 0.0 else 1.0 - busy.toDouble / (t1 - t0), "ratio")
    def phasesMs(pr: Progress): Long = pr.durMs.filter(_._1 != "triggerExecution").values.sum
    out.put("stream.cover_frac_min",
      if (timed.isEmpty) 0.0
      else timed.map(pr => phasesMs(pr).toDouble / pr.triggerMs.max(1L)).min, "ratio")
    out.put("stream.uncovered_s_p50", p50(pr => (pr.triggerMs - phasesMs(pr)).max(0L) / 1000.0), "s")
    out.put("stream.triggers", timed.size.toDouble, "count")
    val maint = run.map(_.maintenanceBatches).getOrElse(Set.empty[Long])
    val (m, others) = timed.partition(pr => maint.contains(pr.batchId))
    val base = Stats.median(others.map(_.addBatchMs / 1000.0))
    out.put("table.maint_extra_s_p50",
      if (m.isEmpty) 0.0 else Stats.median(m.map(_.addBatchMs / 1000.0 - base)), "s")
  }

  /** Merge calls of the timed stream batches, as seen from outside: from
    * the start of addBatch (the hook's time minus addBatch's duration) to
    * the commit of the merge's snapshot head.
    */
  def streamApplies(run: StreamRun, prog: Seq[Progress], tracer: Tracer,
      rootSpan: Long): Seq[ApplyWin] = {
    val byBatch = prog.map(pr => pr.batchId -> pr).toMap
    val ends = run.batchEnds
    val maint = run.maintenanceBatches
    ends.zip(None +: ends.map(Some(_))).flatMap { case (e, prev) =>
      byBatch.get(e.batchId).filter(_ => e.batchId > run.warmMaxBatch && !e.skipped).map { pr =>
        val trig = tracer.record(rootSpan, "stream", "trigger", pr.startNs,
          pr.startNs + pr.triggerMs * 1000000L, Map("batch" -> e.batchId.toString))
        val a0 = e.endNs - pr.addBatchMs * 1000000L
        val add = tracer.record(trig, "stream", "addBatch", a0, e.endNs)
        val a1 = e.commitNs.max(a0).min(e.endNs)
        if (maint.contains(e.batchId))
          tracer.record(add, "table", "maintenance", a1, e.endNs)
        val id = tracer.nextId()
        tracer.add(Span(id, add, "merge", "MergeInto.apply", a0, a1))
        ApplyWin("cdc", e.batchId, a0, a1, pr.rows,
          prev.map(pe => e.gcMs - pe.gcMs).getOrElse(0L), id)
      }
    }
  }

  def table(out: MetricSet, t: LakeTable, reads: Seq[ReadRec], jobs: Seq[JobRec],
      liveRows: Long, metaBytes: Long, commits: Long, tracer: Tracer): Unit = {
    val ok = reads.filter(_.ok)
    val perRead = ok.map { r =>
      val js = jobs.filter(j => j.isReader && j.startNs >= r.startNs - ms && j.startNs <= r.endNs)
      js.foreach(j => tracer.record(r.spanId, "spark", "table.read.job", j.startNs.max(r.startNs),
        (if (j.endNs < 0) r.endNs else j.endNs).min(r.endNs), Map("job" -> j.id.toString)))
      (js.size.toDouble, js.map(_.inputBytes).sum.toDouble, js.map(_.shuffleRead).sum.toDouble)
    }
    val n = perRead.size.max(1).toDouble
    out.put("table.read_jobs", perRead.map(_._1).sum / n, "count")
    out.put("table.read_input_bytes", perRead.map(_._2).sum / n, "B")
    out.put("table.read_shuffle_bytes", perRead.map(_._3).sum / n, "B")
    out.put("table.manifest_read_ms_p50", Stats.median(ok.map(_.manifestNs / 1e6)), "ms")
    val m = t.currentManifest()
    val files = t.filesOf(m)
    out.put("table.files_live", files.size.toDouble, "count")
    out.put("table.delta_files_live", files.count(_.isDelta).toDouble, "count")
    val metaDir = new File(t.root, "meta")
    out.put("table.manifest_files", Option(metaDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("m-") && f.getName.endsWith(".json")).toDouble, "count")
    out.put("table.stored_rows_per_live_row", files.map(_.rows).sum.toDouble / liveRows.max(1L), "ratio")
    out.put("table.meta_bytes_per_commit", metaBytes.toDouble / commits.max(1L), "B")
  }
}
