package graftbench

import graft.changegen.{ChangeGen, FeedConfig, Phase}
import graft.merge.{MergeConfig, MergeInto}
import graft.table.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: String, traceDir: String, design: String, pins: String,
    mode: String, pinSeeds: String)

/** One workload's fixed sizes, read from design.json. */
final class Params(val name: String, m: Map[String, Any]) {
  private def num(k: String): Double = m.get(k) match {
    case Some(n: BigInt) => n.toDouble
    case Some(n: Double) => n
    case Some(n: Long) => n.toDouble
    case Some(n: Int) => n.toDouble
    case other => throw new IllegalArgumentException(s"$name.$k: $other")
  }
  def d(k: String): Double = num(k)
  def l(k: String): Long = num(k).toLong
  def i(k: String): Int = num(k).toInt
}

/** A merge call as seen from outside: [a0, a1] in epoch ns. */
final case class ApplyWin(cp: String, batch: Long, a0: Long, a1: Long,
    events: Long, gcMs: Long, spanId: Long)

/** A snapshot read; `live` when it read the current snapshot beside the
  * writer, not a fixed snapshot after the timed window.
  */
final case class ReadRec(startNs: Long, endNs: Long, manifestNs: Long, ok: Boolean,
    spanId: Long, live: Boolean)

/** Ingest benchmark for graft: one workload per process. See design.json
  * for the workloads, their sizes and the metrics they report.
  */
object Main {
  val Checkpoint = "bench"

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(
      workload = kv.getOrElse("workload", "bulk_zipf"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "15").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      workDir = kv("workdir"),
      traceDir = kv.getOrElse("tracedir", kv("workdir") + "-trace"),
      design = kv("design"),
      pins = kv("pins"),
      mode = kv.getOrElse("mode", "run"),
      pinSeeds = kv.getOrElse("pin-seeds", "0-0"))
    val code =
      try new Bench(opts).run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}

final class Bench(opts: Opts) {
  import Main.Checkpoint

  private val design: Map[String, Any] = {
    val txt = new String(Files.readAllBytes(Paths.get(opts.design)), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(txt).values.asInstanceOf[Map[String, Any]]
  }
  private val p: Params = new Params(opts.workload,
    design("workloads").asInstanceOf[Map[String, Any]].getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
      .asInstanceOf[Map[String, Any]])

  private val tracer = new Tracer(opts.trace)
  private var seed = opts.seed
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val work = new File(opts.workDir).getAbsolutePath
  private val tableDir = s"$work/table"
  private val lineageDir = s"$tableDir/lineage"
  private val deadLetterDir = s"$tableDir/deadletter"

  private val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  private var feedGenS = 0.0
  private val applies = mutable.ArrayBuffer.empty[ApplyWin]
  private val reads = mutable.ArrayBuffer.empty[ReadRec]
  private var attempted = 0L
  private var failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]

  private var spark: SparkSession = _
  private var jobs: Option[JobListener] = None
  private var progress: Option[ProgressListener] = None
  private val rootSpan = tracer.nextId()

  // ---------------------------------------------------------------- set-up

  private val checkPhases = mutable.LinkedHashMap.empty[String, Double]

  private def phase[T](name: String, layer: String = "bench",
      into: mutable.Map[String, Double] = setupPhases)(f: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(rootSpan, layer, name)(_ => f)
    finally into(name) = into.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  private def startSpark(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    setThread("main")
    if (opts.trace) {
      val jl = new JobListener
      spark.sparkContext.addSparkListener(jl)
      jobs = Some(jl)
      val pl = new ProgressListener
      spark.streams.addListener(pl)
      progress = Some(pl)
    }
  }

  private def setThread(name: String): Unit =
    spark.sparkContext.setLocalProperty(JobListener.ThreadProp, name)

  private def mergeCfg(): MergeConfig = MergeConfig(
    numBuckets = p.i("numBuckets"),
    lineageDir = Some(lineageDir),
    deadLetterDir = Some(deadLetterDir),
    deltaAppendThreshold = if (opts.workload == "trickle_tail") p.l("deltaAppendRows") else 0L)

  private def writeFeed(dir: String, cfg: FeedConfig): Seq[String] = {
    val t0 = System.nanoTime()
    try tracer.span(rootSpan, "changegen", "ChangeGen.writeFeed")(_ =>
      ChangeGen.writeFeed(spark, dir, cfg))
    finally feedGenS += (System.nanoTime() - t0) / 1e9
  }

  private def feedConfig(numEvents: Long, eventsPerSegment: Long, filesPerSegment: Int,
      phases: Seq[Phase] = Nil): FeedConfig = FeedConfig(
    numEvents = numEvents,
    numKeys = p.i("numKeys"),
    seed = seed,
    zipf = p.d("zipf"),
    deleteFraction = p.d("deleteFraction"),
    dupFraction = p.d("dupFraction"),
    outOfOrderWindow = p.i("outOfOrderWindow"),
    eventsPerSegment = eventsPerSegment,
    maxTokens = p.i("maxTokens"),
    filesPerSegment = filesPerSegment,
    phases = phases)

  /** Structurally invalid events (null lsn, or an unknown op), added to
    * each segment directory of `phaseDir` as one extra feed file. Returns
    * how many were added.
    */
  private def injectInvalid(phaseDir: String, segs: Seq[Long], perSeg: Int,
      eventsPerSegment: Long): Long = {
    if (perSeg <= 0 || segs.isEmpty) return 0L
    val sample = spark.read.parquet(phaseDir).drop("seg").schema
    val rnd = new scala.util.Random(seed * 1000003L + 17L)
    val rows = segs.flatMap { s =>
      (0 until perSeg).map { k =>
        val nullLsn = k % 2 == 0
        val lsn: java.lang.Long =
          if (nullLsn) null else java.lang.Long.valueOf(s * eventsPerSegment + rnd.nextInt(eventsPerSegment.toInt))
        val values: Seq[Any] = sample.fieldNames.toSeq.map {
          case "lsn" => lsn
          case "doc_id" => f"doc${rnd.nextInt(p.i("numKeys"))}%08d"
          case "op" => if (nullLsn) "U" else "X"
          case "tokens" => Array(rnd.nextInt(1000), rnd.nextInt(1000), rnd.nextInt(1000), rnd.nextInt(1000)).toSeq
          case "n_tok" => 4
          case "source" => "bad"
          case _ => null
        }
        org.apache.spark.sql.Row.fromSeq(values :+ s)
      }
    }
    val schema = sample.add("seg", org.apache.spark.sql.types.LongType)
    val tmp = s"$work/invalid-tmp"
    spark.createDataFrame(rows.asJava, schema).repartition(col("seg"))
      .write.partitionBy("seg").mode("overwrite").parquet(tmp)
    segs.foreach { s =>
      val src = new File(s"$tmp/seg=$s")
      Option(src.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          Files.move(f.toPath, Paths.get(s"$phaseDir/seg=$s/invalid-${f.getName}"))
        }
    }
    deleteTree(new File(tmp))
    rows.size.toLong
  }

  /** Compare the feed's pin to the one recorded for (workload, seed). */
  private def pinMismatch(pin: Pin): Option[String] = {
    val pins: Map[String, Any] =
      if (!new File(opts.pins).exists()) Map.empty
      else org.json4s.jackson.JsonMethods.parse(new String(
        Files.readAllBytes(Paths.get(opts.pins)), "UTF-8")).values.asInstanceOf[Map[String, Any]]
    val recorded = pins.get(opts.workload).map(_.asInstanceOf[Map[String, Any]])
      .flatMap(_.get(opts.seed.toString)).map(_.asInstanceOf[Map[String, Any]])
    pinLine = mutable.LinkedHashMap[String, Any]("rows" -> pin.rows, "hash" -> pin.hex,
      "recorded" -> recorded.isDefined)
    if (recorded.isEmpty) notes += s"seed ${opts.seed} has no recorded input pin"
    recorded.flatMap { r =>
      val rows = r("rows").toString.toLong
      if (rows == pin.rows && r("hash").toString == pin.hex) None
      else Some(s"input pin: generated ${pin.rows} rows/${pin.hex}, recorded $rows/${r("hash")}")
    }
  }
  private var pinLine: collection.Map[String, Any] = Map.empty

  /** JIT warm-up on a throwaway table: the same merge plan shape as the
    * workload, a snapshot read, and (for the stream) nothing else — the
    * stream's own first triggers run in set-up too.
    */
  private def warmUp(cfg: MergeConfig, phaseDir: String): Unit = phase("warmup") {
    val dir = s"$work/warm"
    val table = LakeTable(s"$dir/table")
    val wcfg = cfg.copy(lineageDir = Some(s"$dir/table/lineage"),
      deadLetterDir = Some(s"$dir/table/deadletter"),
      broadcastThreshold = p.l("warmBroadcastThreshold"),
      singleTaskRows = p.l("warmSingleTaskRows"))
    // one feed file of each of the first segments: the workload's plan
    // shapes at a fraction of its batch size, the second merge joining a
    // populated target
    (0L until 2L).foreach { s =>
      val file = Option(new File(s"$phaseDir/seg=$s").listFiles()).getOrElse(Array.empty)
        .map(_.getPath).filter(f => f.endsWith(".parquet") && !f.contains("invalid-")).min
      MergeInto.apply(spark, table, spark.read.parquet(file), "warm", s, wcfg)
    }
    table.read(spark).agg(count(lit(1)), sum(col("n_tok"))).head()
  }

  // ---------------------------------------------------------- timed phase

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private var timedStartNs = 0L
  private var timedEndNs = 0L
  /** Events committed inside the timed window, over `rateSpanNs`. */
  private var timedEvents = 0L
  private var rateSpanNs = 0L
  /** Events whose writes `bytesWritten` counts: with the stream, also
    * those of files dropped in the window but committed in the drain.
    */
  private var writtenEvents = 0L
  private var bytesWritten = 0L
  private var metaBytes = 0L
  private var versionsAtStart = 0L
  private var versionsAtEnd = 0L
  private var cpu0: Option[Array[Long]] = None
  private var cpu1: Option[Array[Long]] = None

  private var setupEndNs = 0L

  /** Start the timed window at `at` (default now); set-up ends now. */
  private def startTimed(at: Long = 0L): Unit = {
    setupEndNs = Clock.nowNs
    while (Clock.nowNs < at) Thread.sleep(1)
    cpu0 = HostStat.cpuJiffies()
    timedStartNs = Clock.nowNs
  }

  private def endTimed(): Unit = endTimedAt(Clock.nowNs)

  private[graftbench] def endTimedAt(ns: Long): Unit = {
    timedEndNs = ns
    cpu1 = HostStat.cpuJiffies()
  }

  /** One snapshot read: the timed manifest lookup, then the table read
    * materialised as count and sum(n_tok) — of the current snapshot, or of
    * snapshot `version` when given.
    */
  private[graftbench] def snapshotRead(table: LakeTable, parent: Long,
      version: Option[Long] = None): Unit = {
    val t0 = Clock.nowNs
    val id = tracer.nextId()
    spark.sparkContext.setLocalProperty(JobListener.ThreadProp, JobListener.ReaderThread)
    val rec =
      try {
        val m0 = Clock.nowNs
        version.fold(table.currentManifestOpt(): Any)(table.readManifest)
        val m1 = Clock.nowNs
        tracer.record(id, "table", "LakeTable.currentManifestOpt", m0, m1)
        version.fold(table.read(spark))(table.readVersion(spark, _))
          .agg(count(lit(1)), sum(col("n_tok"))).head()
        ReadRec(t0, Clock.nowNs, m1 - m0, ok = true, id, version.isEmpty)
      } catch {
        case e: Exception =>
          note(s"read failed: $e")
          ReadRec(t0, Clock.nowNs, 0L, ok = false, id, version.isEmpty)
      }
    tracer.add(Span(id, parent, "table", "LakeTable.read", rec.startNs, rec.endNs))
    synchronized {
      reads += rec
      attempted += 1
      if (!rec.ok) failed += 1
    }
  }

  /** Read, `fixedReads` times and with no writer running, the snapshot
    * left by the `readAfterBatches`-th timed batch, so every run reads a
    * table of the same size and shape however many batches it applied.
    */
  private def fixedReads(table: LakeTable): Unit = {
    val readSpan = tracer.nextId()
    val r0 = Clock.nowNs
    val version = (versionsAtStart + p.i("readAfterBatches")).min(versionsAtEnd)
    (0 until p.i("fixedReads")).foreach(_ => snapshotRead(table, readSpan, Some(version)))
    tracer.add(Span(readSpan, rootSpan, "bench", "reads", r0, Clock.nowNs))
    setThread("main")
  }

  private def segDirs(phaseDirs: Seq[String], s: Long): Seq[String] =
    phaseDirs.map(d => s"$d/seg=$s").filter(d => new File(d).isDirectory)

  /** Apply `batches` (batch id, feed dirs) in a closed loop until the
    * run's seconds are used. Returns the ids applied.
    */
  private def closedLoop(table: LakeTable, batches: Seq[(Long, Seq[String])],
      cfg: MergeConfig): Seq[Long] = {
    val frames = batches.map { case (b, dirs) => (b, spark.read.parquet(dirs.sorted: _*)) }
    val tracker = new WriteTracker(new File(tableDir))
    tracker.scan()
    versionsAtStart = table.currentVersion()
    val applied = mutable.ArrayBuffer.empty[Long]
    startTimed()
    val timedSpan = tracer.nextId()
    val deadline = timedStartNs + opts.seconds * 1000000000L
    val it = frames.iterator
    while (Clock.nowNs < deadline && it.hasNext) {
      val (b, df) = it.next()
      attempted += 1
      val g0 = gcMs()
      val id = tracer.nextId()
      val a0 = Clock.nowNs
      try {
        MergeInto.apply(spark, table, df, Checkpoint, b, cfg)
        applied += b
      } catch {
        case e: Exception =>
          failed += 1
          notes += s"merge of batch $b failed: $e"
      }
      val a1 = Clock.nowNs
      tracer.add(Span(id, timedSpan, "merge", "MergeInto.apply", a0, a1))
      applies += ApplyWin(Checkpoint, b, a0, a1, 0L, gcMs() - g0, id)
    }
    if (Clock.nowNs < deadline) notes += "feed exhausted before the run's seconds were used"
    endTimed()
    tracer.add(Span(timedSpan, rootSpan, "bench", "timed", timedStartNs, timedEndNs))
    tracker.scan()
    bytesWritten = tracker.total
    metaBytes = tracker.meta
    versionsAtEnd = table.currentVersion()
    fixedReads(table)
    applied.toSeq
  }

  // ----------------------------------------------------------- workloads

  private var table: LakeTable = _
  private var streamStats: Option[StreamRun] = None

  /** The feed as generated: one directory per schema phase. */
  private var phaseDirs: Seq[String] = Nil
  /** Feed file -> the (checkpoint id, batch id) that applied it. */
  private val appliedBy = mutable.HashMap.empty[String, (String, Long)]

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) Seq(f.getPath)
      else Nil
    walk(new File(dir)).sorted
  }

  private def markApplied(dirs: Seq[String], batch: (String, Long)): Unit =
    dirs.flatMap(parquetFiles).foreach(f => appliedBy(f) = batch)

  /** Generate the workload's feed for the current seed under `dir`;
    * returns the number of injected invalid events.
    */
  private def makeFeed(dir: String): Long = opts.workload match {
    case "bulk_zipf" =>
      val eps = p.l("eventsPerBatch")
      val nb = p.i("batches")
      phaseDirs = writeFeed(dir, feedConfig(eps * nb, eps, p.i("filesPerBatch")))
      phase("inject_invalid") {
        injectInvalid(phaseDirs.head, 0L until nb, (eps * p.d("invalidFrac")).round.toInt, eps)
      }
    case "trickle_tail" =>
      // the preload as a few large segments, the tail as one small file
      // per segment: LSN ranges split at the preload size, so the two
      // writes hold the events of one feed
      val epf = p.l("eventsPerFile")
      val pre = p.l("preloadEvents")
      phaseDirs = writeFeed(s"$dir/preload", feedConfig(pre, (pre + 3) / 4, nproc)) ++
        writeFeed(s"$dir/tail", feedConfig(pre + p.l("files") * epf, epf, 1,
          Seq(Phase(pre, Long.MaxValue))))
      0L
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def runClosed(): Unit = {
    val cfg = mergeCfg()
    warmUp(cfg, phaseDirs.head)
    table = LakeTable(tableDir)
    val timedSegs = 0L until p.l("batches")
    val applied = closedLoop(table, timedSegs.map(s => (s, segDirs(phaseDirs, s))), cfg)
    applied.foreach(s => markApplied(segDirs(phaseDirs, s), (Checkpoint, s)))
  }

  private def runTrickle(): Unit = {
    val warmFiles = p.i("warmFiles")
    val Seq(preloadDir, phaseDir) = phaseDirs
    val cfg = mergeCfg()
    warmUp(cfg, preloadDir)
    table = LakeTable(tableDir)
    phase("preload", "merge") {
      MergeInto.apply(spark, table, spark.read.parquet(preloadDir), "preload", 0L, cfg)
      markApplied(Seq(preloadDir), ("preload", 0L))
    }
    val first = p.l("preloadEvents") / p.l("eventsPerFile")
    val watch = s"$work/watch"
    new File(watch).mkdirs()
    phaseDirs = phaseDirs :+ watch
    val run = new StreamRun(spark, tracer, rootSpan, table, cfg, p, watch, phaseDir,
      s"$work/checkpoint", this)
    streamStats = Some(run)
    phase("stream_warmup", "stream") {
      run.start(first until first + warmFiles)
    }
    // the timed window starts a fixed offset after a trigger boundary
    // (processing-time triggers fire on multiples of the interval since
    // the epoch), so drops and reads meet the trigger grid at the same
    // phase in every run
    val iv = p.l("triggerIntervalMs") * 1000000L
    startTimed((Clock.nowNs / iv + 1) * iv + iv / 8)
    run.timed(first + warmFiles until first + p.l("files"), p.d("filesPerSecond"),
      opts.seconds, timedStartNs)
    bytesWritten = run.bytesWritten
    metaBytes = run.metaBytesWritten
    versionsAtStart = run.versionsAtStart
    versionsAtEnd = run.versionsAtEnd
    fixedReads(table)
    attempted += run.triggersAttempted
    failed += run.triggersFailed
    if (run.exhausted) note("feed exhausted before the run's seconds were used")
    run.batchOfFile.foreach { case (f, b) => appliedBy(f) = ("cdc", b) }
  }

  /** Fold the whole feed: the oracle's expected state over the applied
    * files, and the input pin and per-segment row counts over all of them.
    */
  private def foldFeed(): Fold = phase("oracle_fold", into = checkPhases) {
    val fold = new Fold(p.i("numBuckets"))
    val batchOf = appliedBy.toMap
    phaseDirs.foreach(d => fold.addFiles(spark, parquetFiles(d), batchOf))
    fold
  }

  /** Print the input pin of every seed in `seeds` (for pins.json). */
  private def printPins(seeds: Seq[Long]): Unit = seeds.foreach { s =>
    seed = s
    val dir = s"$work/pin-$s"
    val t0 = System.nanoTime()
    makeFeed(dir)
    val t1 = System.nanoTime()
    val pin = foldFeed().pin
    System.err.println(f"[graftbench] seed $s: feed ${(t1 - t0) / 1e9}%.2f s, " +
      f"fold ${(System.nanoTime() - t1) / 1e9}%.2f s")
    println(Json.render(mutable.LinkedHashMap[String, Any]("pin" -> mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> s, "rows" -> pin.rows, "hash" -> pin.hex))))
    deleteTree(new File(dir))
  }

  private[graftbench] def note(s: String): Unit = synchronized(notes += s)

  // --------------------------------------------------------------- run

  def run(): Int = {
    deleteTree(new File(work))
    new File(work).mkdirs()
    try {
      phase("spark_session")(startSpark())
      if (opts.mode == "pin") {
        val Array(lo, hi) = opts.pinSeeds.split("-").map(_.toLong)
        printPins(lo to hi)
        return 0
      }
      val injected = makeFeed(s"$work/feed")
      if (injected > 0) notes += s"injected invalid events: $injected"
      opts.workload match {
        case "bulk_zipf" => runClosed()
        case "trickle_tail" => runTrickle()
      }
      val fold = foldFeed()
      val segRows = fold.rowsOfSeg
      applies.indices.foreach { i =>
        applies(i) = applies(i).copy(events = segRows.getOrElse(applies(i).batch, 0L))
      }
      def events(segs: Seq[Long]): Long = segs.map(s => segRows.getOrElse(s, 0L)).sum
      streamStats match {
        case Some(run) =>
          // from the window's start to its last commit: a batch that
          // commits just past the window's end then shifts numerator and
          // denominator together instead of dropping out of the count
          val (segs, lastCommitNs) = run.committedBy(timedEndNs)
          timedEvents = events(segs)
          rateSpanNs = lastCommitNs - timedStartNs
          writtenEvents = events(run.timedSegs)
        case None =>
          timedEvents = applies.map(_.events).sum
          rateSpanNs = timedEndNs - timedStartNs
          writtenEvents = timedEvents
      }
      val exp = fold.result()
      val mismatches = pinMismatch(fold.pin).toSeq ++
        phase("oracle_check", into = checkPhases)(
          Oracle.check(spark, table, exp, lineageDir, deadLetterDir))
      if (opts.mode == "selftest") return selfTest(exp, mismatches)
      val correct = mismatches.isEmpty
      if (!correct) {
        mismatches.foreach(m => System.err.println(s"[graftbench] CHECK FAILED: $m"))
        failed = attempted
      }
      report(correct, exp)
      0
    } finally {
      if (spark != null) spark.stop()
      deleteTree(new File(work))
    }
  }

  /** Flip one token in a finished table's data file; the oracle must then
    * report a mismatch where it reported none before.
    */
  private def selfTest(exp: Expected, clean: Seq[String]): Int = {
    val m = table.currentManifest()
    val victim = table.filesOf(m).filterNot(_.isDelta).maxBy(_.rows)
    val path = new java.net.URI(victim.path).getPath match {
      case null => victim.path
      case s => s
    }
    val df = spark.read.parquet(path)
    val rows = df.collect()
    val i = rows.indexWhere(r => !r.isNullAt(r.fieldIndex("tokens")) &&
      !r.getAs[Boolean]("_tombstone"))
    val r = rows(i)
    val ti = r.fieldIndex("tokens")
    val toks = r.getSeq[Int](ti).toArray
    toks(0) = toks(0) ^ 1
    val flipped = org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(ti, toks.toSeq))
    val tmp = s"$work/flip"
    spark.createDataFrame(rows.updated(i, flipped).toSeq.asJava, df.schema).coalesce(1)
      .write.parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    // the local filesystem's checksum of the old content would reject the
    // read before the oracle sees it
    val victimFile = new File(path)
    new File(victimFile.getParent, s".${victimFile.getName}.crc").delete()
    val after = Oracle.check(spark, table, exp, lineageDir, deadLetterDir)
    println(s"self-test: clean table mismatches = ${clean.size}" +
      clean.map("\n  " + _).mkString)
    println(s"self-test: flipped table mismatches = ${after.size}" +
      after.map("\n  " + _).mkString)
    val ok = clean.isEmpty && after.nonEmpty
    println(s"self-test: ${if (ok) "PASS" else "FAIL"}")
    if (ok) 0 else 1
  }

  // --------------------------------------------------------------- report

  private def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  private def report(correct: Boolean, exp: Expected): Unit = {
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val setupS = (setupEndNs - jvmStartNs) / 1e9
    val timedS = (timedEndNs - timedStartNs) / 1e9
    val e2e = new MetricSet
    val latencies: Seq[Double] = streamStats match {
      case Some(run) => run.fileLatenciesS
      case None => applies.map(w => (w.a1 - w.a0) / 1e9).toSeq
    }
    def readTimes(live: Boolean): Seq[Double] =
      reads.filter(r => r.ok && r.live == live).map(r => (r.endNs - r.startNs) / 1e9).toSeq
    val readS = readTimes(live = false)
    val (tailV, tailQ) = Stats.tail(latencies)
    e2e.put("setup_s", setupS, "s")
    e2e.put("events_per_s", timedEvents / (rateSpanNs / 1e9).max(1e-9), "1/s")
    e2e.put("commit_latency_s_p50", Stats.median(latencies), "s")
    e2e.put("commit_latency_s_p90", tailV, "s")
    e2e.put("read_s_p50", Stats.median(readS), "s")
    e2e.put("write_bytes_per_event", bytesWritten.toDouble / writtenEvents.max(1L), "B")
    e2e.put("peak_rss_mb", vmHwmMb(), "MB")

    val hostFr = (cpu0, cpu1) match {
      case (Some(a), Some(b)) => HostStat.fractions(a, b)
      case _ => Array(0.0, 0.0, 0.0, 0.0)
    }
    val stamps = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "nproc" -> nproc,
      "host_cpu_user" -> hostFr(0), "host_cpu_sys" -> hostFr(1),
      "host_cpu_steal" -> hostFr(2), "host_cpu_idle" -> hostFr(3),
      "timed_s" -> timedS, "events" -> timedEvents, "events_written" -> writtenEvents,
      "latency_samples" -> latencies.size, "latency_tail_quantile" -> tailQ,
      "merge_s" -> applies.map(w => (w.a1 - w.a0) / 1e9),
      "read_s" -> readS, "live_read_s" -> readTimes(live = true),
      "triggers" -> streamStats.map(_.triggersAttempted).getOrElse(0L),
      "failed_frac" -> failed.toDouble / attempted.max(1L),
      "producer_late_s_max" -> streamStats.map(_.producerLateMaxS).getOrElse(0.0),
      "reader_late_s_max" -> streamStats.map(_.readerLateMaxS).getOrElse(0.0),
      "oracle_live_rows" -> exp.liveRows, "oracle_invalid" -> exp.invalid,
      "setup_phases" -> setupPhases, "feed_gen_s" -> feedGenS,
      "check_phases" -> checkPhases,
      "input_pin" -> pinLine, "notes" -> notes.toSeq)

    val metrics =
      if (!opts.trace) e2e
      else layerMetrics(exp.liveRows)
    println("graftbench " + opts.workload + " seed " + opts.seed +
      (if (opts.trace) " (traced)" else "") + ":")
    (if (opts.trace) metrics.lines else e2e.lines ++
      Seq(f"  ${"failed_frac"}%-38s ${Json.num(failed.toDouble / attempted.max(1L))} ratio"))
      .foreach(println)
    println(Json.render(mutable.LinkedHashMap[String, Any]("stamps" -> stamps)))
    if (opts.trace)
      tracer.writeJsonl(Paths.get(opts.traceDir, s"${opts.workload}-${opts.seed}.jsonl"))
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted.max(1L), "failed" -> failed,
      "metrics" -> metrics.toJsonMap)))
  }

  private def layerMetrics(liveRows: Long): MetricSet = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val out = new MetricSet
    val js = jobs.map(_.snapshot()).getOrElse(Nil)
    val prog = progress.map(_.all).getOrElse(Nil)
    out.put("changegen.feed_gen_s", feedGenS, "s")
    out.put("changegen.drop_late_s_max", streamStats.map(_.producerLateMaxS).getOrElse(0.0), "s")
    val wins = streamStats match {
      case Some(run) => Layers.streamApplies(run, prog, tracer, rootSpan)
      case None => applies.toSeq
    }
    Layers.merge(out, wins, js, nproc, tracer)
    Layers.stream(out, streamStats, prog, timedStartNs, timedEndNs)
    Layers.table(out, table, reads.filterNot(_.live).toSeq, js, liveRows, metaBytes,
      versionsAtEnd - versionsAtStart, tracer)
    out.put("jvm.gc_s", gcMs() / 1000.0, "s")
    out.put("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    out.put("jvm.jit_s",
      Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1000.0)
        .getOrElse(0.0), "s")
    val self = tracer.selfTimeByLayer()
    Seq("changegen", "merge", "table", "stream").foreach { l =>
      out.put(s"$l.self_s", self.getOrElse(l, 0.0), "s")
    }
    out
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}

object HostStat {
  /** Whole-host CPU jiffies: user, nice, system, idle, iowait, irq,
    * softirq, steal.
    */
  def cpuJiffies(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong))
        .filter(_.length == 8)
      finally src.close()
    } catch { case _: Exception => None }

  /** (user+nice, system+irq+softirq, steal, idle+iowait) fractions. */
  def fractions(a: Array[Long], b: Array[Long]): Array[Double] = {
    val d = b.zip(a).map { case (x, y) => (x - y).max(0L).toDouble }
    val tot = d.sum.max(1.0)
    Array((d(0) + d(1)) / tot, (d(2) + d(5) + d(6)) / tot, d(7) / tot, (d(3) + d(4)) / tot)
  }
}
