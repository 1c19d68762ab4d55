package graft.tools

import graft.SparkEntry
import graft.merge.{MergeConfig, MergeInto}
import graft.table.LakeTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Formatted physical plans of the file writes a session runs, keyed by
  * output dir. Register it with `spark.listenerManager.register`; Spark's
  * listener bus delivers each write after it finishes, asynchronously, so
  * [[await]] polls. Nothing is captured unless a caller registers one.
  */
final class WritePlans extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[(String, String)]()

  private def norm(dir: String): String = new Path(dir).toUri.getPath

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical match {
      case w: InsertIntoHadoopFsRelationCommand =>
        seen.add(norm(w.outputPath.toString) -> qe.explainString(FormattedMode))
      case _ => ()
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Remove and return the plan of the write into `dir`, waiting up to
    * `timeoutMs` for the listener bus to deliver it.
    */
  def await(dir: String, timeoutMs: Long = 60000L): String = {
    val want = norm(dir)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def take(): Option[String] =
      seen.asScala.find(_._1 == want).map { e => seen.remove(e); e._2 }
    var plan = take()
    while (plan.isEmpty) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"no write plan for $dir within $timeoutMs ms")
      Thread.sleep(10)
      plan = take()
    }
    plan.get
  }
}

/** One probe tool for the query catalog and the MERGE kernel:
  *
  * {{{
  * runMain graft.tools.Probe time <sfDir> [--count] [--reps N] [--cpus N]
  *                                [--plans DIR SUFFIX] <query|all> ...
  * runMain graft.tools.Probe explain <sfDir> [--cpus N] [query ...]
  * runMain graft.tools.Probe merge-plans <plansDir> <sfDir> [--cpus N]
  * }}}
  *
  *  - `time` runs each query `--reps` times (default 2) into the noop sink,
  *    which computes every column of every row and pays no output cost, or
  *    with `--count` into `.count()`; `--plans` also writes
  *    `DIR/<query>_<SUFFIX>.txt` with the formatted plan.
  *  - `explain` prints the formatted physical plans of the named queries,
  *    or of a default set covering the dedupe window, the joins, the ANN
  *    and dedup operators, and table reads with and without delta files.
  *  - `merge-plans` replays the dataset's change feed through the kernel
  *    and writes the second batch's write plan (the merge into an existing
  *    table) for the rewrite and delta-append paths, each with the default
  *    single-task plan (`_after`) and with `singleTaskRows = 0`, the
  *    parallel plans (`_before`).
  *
  * `--cpus` defaults to `SPARK_GRAFT_CPUS`, else the machine's processors.
  */
object Probe {

  private val usage =
    "usage: graft.tools.Probe time <sfDir> [--count] [--reps N] [--cpus N] " +
      "[--plans DIR SUFFIX] <query|all> ... | explain <sfDir> [--cpus N] [query ...] | " +
      "merge-plans <plansDir> <sfDir> [--cpus N]"

  private val defaultExplain = Seq(
    "cdc_dedupe_lww", "cdc_final_state", "cdc_trickle_delta",
    "join_revenue_by_nation", "dedup_ngram_jaccard", "ann_bruteforce_topk",
    "window_topk_per_user", "ann_lsh_topk", "match_fuzzy", "csv_parse_route",
    "edges_emit")

  private final case class Opts(
      reps: Int = 2,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      plans: Option[(String, String)] = None,
      count: Boolean = false,
      names: Vector[String] = Vector.empty)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--reps" :: n :: rest => parse(rest, o.copy(reps = n.toInt))
    case "--cpus" :: n :: rest => parse(rest, o.copy(cpus = n.toInt))
    case "--plans" :: dir :: sfx :: rest => parse(rest, o.copy(plans = Some((dir, sfx))))
    case "--count" :: rest => parse(rest, o.copy(count = true))
    case flag :: _ if flag.startsWith("--") => sys.error(s"unknown option $flag; $usage")
    case name :: rest => parse(rest, o.copy(names = o.names :+ name))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: rest => withSession(parse(rest))(time(_, sfDir, _))
    case "explain" :: sfDir :: rest => withSession(parse(rest))(explain(_, sfDir, _))
    case "merge-plans" :: plansDir :: sfDir :: rest =>
      withSession(parse(rest))((s, _) => mergePlans(s, plansDir, sfDir))
    case _ => System.err.println(usage); sys.exit(2)
  }

  private def withSession(o: Opts)(f: (SparkSession, Opts) => Unit): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try f(spark, o) finally spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(
      s"no such query: $name (have ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})"))

  private def writeFile(dir: String, name: String, text: String): Unit = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    println(s"[probe] plan -> $p")
  }

  private def time(spark: SparkSession, sfDir: String, o: Opts): Unit = {
    val names =
      if (o.names.isEmpty || o.names.contains("all")) SparkEntry.queries.keys.toSeq.sorted
      else o.names
    names.foreach { name =>
      val fn = query(name)
      o.plans.foreach { case (dir, sfx) =>
        writeFile(dir, s"${name}_$sfx.txt",
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      }
      (1 to o.reps).foreach { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        def secs = (System.nanoTime() - t0) / 1e9
        try {
          val df = fn(spark, sfDir)
          val rows =
            if (o.count) s" (${df.count()} rows)"
            else { df.write.format("noop").mode("overwrite").save(); "" }
          println(f"[probe] $name rep$r: $secs%.3f s$rows")
        } catch {
          case e: Exception =>
            println(f"[probe] $name rep$r: FAILED after $secs%.3f s: " +
              String.valueOf(e.getMessage).take(200))
        }
        spark.sparkContext.setJobDescription(null)
      }
    }
  }

  private def explain(spark: SparkSession, sfDir: String, o: Opts): Unit =
    (if (o.names.nonEmpty) o.names else defaultExplain).foreach { name =>
      println(s"==== query: $name ====")
      query(name)(spark, sfDir).explain("formatted")
    }

  /** The catalog's CDC queries are multi-batch drivers whose returned frame
    * is only the final table read; the restructured plans live inside each
    * batch, so this replays the same feed through the kernel directly.
    */
  private def mergePlans(spark: SparkSession, plansDir: String, sfDir: String): Unit = {
    val changes = SparkEntry.cdcChanges(spark, sfDir).persist()
    val work = Files.createTempDirectory("graft-probe").toString
    val plans = new WritePlans
    spark.listenerManager.register(plans)

    /** Bootstrap batch, then one batch into the existing table (every
      * `mod`-th lsn each); returns the second batch's write plan.
      */
    def secondBatchPlan(tag: String, mod: Int, cfg: MergeConfig): String = {
      val table = LakeTable(s"$work/t-$tag")
      (0L until 2L).map { b =>
        val r = MergeInto.apply(spark, table, changes.filter(col("lsn") % mod === b),
          tag, b, cfg)
        plans.await(table.stagingDir(r.version))
      }.last
    }

    try {
      val single = MergeConfig(numBuckets = 8)
      val parallel = single.copy(singleTaskRows = 0L)
      val delta = 10000000L
      writeFile(plansDir, "merge_batch_small_after.txt",
        secondBatchPlan("after", 4, single))
      writeFile(plansDir, "merge_batch_small_before.txt",
        secondBatchPlan("before", 4, parallel))
      writeFile(plansDir, "merge_delta_batch_after.txt",
        secondBatchPlan("dafter", 16, single.copy(deltaAppendThreshold = delta)))
      writeFile(plansDir, "merge_delta_batch_before.txt",
        secondBatchPlan("dbefore", 16, parallel.copy(deltaAppendThreshold = delta)))
    } finally {
      spark.listenerManager.unregister(plans)
      changes.unpersist()
      graft.util.IoUtil.deleteRecursively(new java.io.File(work))
    }
  }
}
