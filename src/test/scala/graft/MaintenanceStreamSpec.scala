package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.{ChangeEvent, Ops}
import graft.streaming.StreamOps
import graft.table.{LakeTable, Maintenance}
import graft.tools.WritePlans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def buildTable(root: String, nEvents: Long, nBatches: Int): (LakeTable, Seq[RawEvent]) = {
    val feed = FeedConfig(numEvents = nEvents, numKeys = 300, seed = 17,
      deleteFraction = 0.2, eventsPerSegment = nEvents / nBatches)
    val events = ChangeGen.generateLocal(feed)
    val table = LakeTable(root)
    events.groupBy(_.seg).toSeq.sortBy(_._1).foreach { case (seg, evs) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", seg, MergeConfig(numBuckets = 8))
    }
    (table, events)
  }

  test("compaction: fewer files, same live state, tombstones GC'd by watermark") {
    val (table, events) = buildTable(tmpDir("lake-compact"), 9000, 6)
    val before = table.read(spark).collect().map(_.toSeq).toSet
    val filesBefore = table.filesOf(table.currentManifest()).size
    val tombsBefore = table.readStored(spark)
      .filter(org.apache.spark.sql.functions.col("_tombstone")).count()
    assert(tombsBefore > 0)

    // all events applied: every tombstone is below the watermark.
    // (file COUNT stays <= 1/bucket by construction — the merge rewrites
    // whole buckets — so compaction's payload here is the tombstone GC)
    val res = Maintenance.compact(spark, table, tombstoneWatermark = 9000L)
    assert(res.filesAfter <= filesBefore)
    assert(table.filesOf(table.currentManifest()).size === res.filesAfter)
    assert(table.read(spark).collect().map(_.toSeq).toSet === before)
    assert(table.readStored(spark)
      .filter(org.apache.spark.sql.functions.col("_tombstone")).count() === 0)
    // merges continue to work post-compaction
    MergeInto.apply(spark, table, batchDf(
      Seq(RawEvent(99999L, events.head.doc_id, Ops.Upsert,
        Array(1, 2, 3), 3, "s", null, 0))), "cp", 999L, MergeConfig(numBuckets = 8))
    assert(table.read(spark).filter(s"doc_id = '${events.head.doc_id}'")
      .head().getAs[Seq[Int]]("tokens") === Seq(1, 2, 3))
  }

  test("compaction keeps tombstones above the watermark (fence preserved)") {
    val root = tmpDir("lake-compact2")
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 4)
    def ev(lsn: Long, op: String, tok: Array[Int]) =
      RawEvent(lsn, "k", op, tok, if (tok == null) -1 else tok.length, "s", null, 0)
    MergeInto.apply(spark, table,
      batchDf(Seq(ev(1, Ops.Insert, Array(1)), ev(10, Ops.Delete, null))), "cp", 0, cfg)
    Maintenance.compact(spark, table, tombstoneWatermark = 5L) // 10 > 5: keep
    // straggler below the delete must stay fenced after compaction
    MergeInto.apply(spark, table, batchDf(Seq(ev(7, Ops.Update, Array(7)))), "cp", 1, cfg)
    assert(table.read(spark).count() === 0)
  }

  test("single-task compaction over delta-bearing buckets writes an exchange-free plan") {
    val table = LakeTable(tmpDir("lake-compact-plan"))
    val cfg = MergeConfig(numBuckets = 4, deltaAppendThreshold = 1000L)
    def ev(lsn: Long, key: String, op: String, tok: Array[Int]) =
      RawEvent(lsn, key, op, tok, tok.length, "s", null, 0)
    MergeInto.apply(spark, table, batchDf(
      (0 until 40).map(i => ev(1, s"c$i", Ops.Insert, Array(i)))), "cp", 0, cfg)
    MergeInto.apply(spark, table, batchDf(
      (0 until 40 by 3).map(i => ev(2, s"c$i", Ops.Upsert, Array(-i)))), "cp", 1, cfg)
    assert(table.filesOf(table.currentManifest()).exists(_.isDelta))
    val state = table.read(spark).collect().map(_.toSeq).toSet
    // the plan compact actually wrote, matched by its staging dir: the
    // delta buckets' LWW window runs under the single-task coalesce, so
    // fold + filter + sort + write need no Exchange
    val plans = new WritePlans
    spark.listenerManager.register(plans)
    try {
      val res = Maintenance.compact(spark, table)
      val plan = plans.await(table.stagingDir(res.version))
      assert(plan.contains("Window"), s"expected the delta resolution window in:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected Exchange in:\n$plan")
    } finally spark.listenerManager.unregister(plans)
    assert(!table.filesOf(table.currentManifest()).exists(_.isDelta))
    assert(table.read(spark).collect().map(_.toSeq).toSet === state)
  }

  test("vacuum removes files of superseded snapshots only") {
    val (table, _) = buildTable(tmpDir("lake-vac"), 6000, 4)
    val liveState = table.read(spark).collect().map(_.toSeq).toSet
    val current = table.currentVersion()
    val deleted = Maintenance.vacuum(table, retainFromVersion = current)
    assert(deleted.nonEmpty, "superseded snapshot files should be vacuumed")
    assert(table.read(spark).collect().map(_.toSeq).toSet === liveState)
    // idempotent: second run deletes nothing
    assert(Maintenance.vacuum(table, retainFromVersion = current).isEmpty)
  }
}

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  test("watermarked windowed aggregation over a streamed feed") {
    val dir = tmpDir("stream-win")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 600).map { i =>
      (new java.sql.Timestamp(base.getTime + i * 1000L),
        if (i % 2 == 0) "click" else "view", i.toDouble)
    }
    rows.toDF("ts", "event_type", "value").write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in")
    val agg = StreamOps.windowedCounts(stream, "ts", "value", "5 minutes", "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("win_out").collect()
    // 600s of events -> 2 windows x 2 types
    assert(out.length === 4)
    assert(out.map(_.getAs[Long]("n")).sum === 600L)
  }

  test("flatMapGroupsWithState keeps last-writer-wins state across batches") {
    val dir = tmpDir("stream-lww")
    def write(sub: String, evs: Seq[ChangeEvent]): Unit = {
      evs.toDS().coalesce(1).write.parquet(s"$dir/in/$sub")
      Thread.sleep(1100) // distinct mod-times -> deterministic batch order
    }
    // batch files: k1 gets lsn 5, then late lsn 3 (ignored), then 9 (wins)
    write("a", Seq(ChangeEvent(5, "k1", "U", Array(5), 1, "s"),
      ChangeEvent(1, "k2", "I", Array(1), 1, "s")))
    write("b", Seq(ChangeEvent(3, "k1", "U", Array(3), 1, "s")))
    write("c", Seq(ChangeEvent(9, "k1", "U", Array(9), 1, "s")))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in/a").schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(s"$dir/in/*")
    val updates = StreamOps.lwwState(stream.as[ChangeEvent])
    val q = updates.writeStream.outputMode("update")
      .format("memory").queryName("lww_out")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table("lww_out").as[ChangeEvent].collect()
    // late lsn=3 suppressed by the keyed state; lsn=9 emitted
    assert(!emitted.exists(e => e.doc_id == "k1" && e.lsn == 3))
    assert(emitted.exists(e => e.doc_id == "k1" && e.lsn == 9))
    assert(emitted.exists(e => e.doc_id == "k1" && e.lsn == 5))
    assert(emitted.exists(e => e.doc_id == "k2" && e.lsn == 1))
  }
}
