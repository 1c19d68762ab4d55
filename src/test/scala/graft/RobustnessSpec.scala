package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.table.{LakeTable, Manifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Failure-path semantics: dead-letter routing of malformed events (the
  * reference's failure relationship) and multi-writer CAS conflicts.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String, op: String, tok: Array[Int]) =
    RawEvent(lsn, key, op, tok, if (tok == null) -1 else tok.length, "s", null, 0)

  test("dead-letter: malformed events quarantined, valid ones applied") {
    val work = tmpDir("lake-dlq")
    val table = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq"))
    val good = Seq(ev(1, "a", Ops.Insert, Array(1)), ev(2, "b", Ops.Upsert, Array(2)))
    val badDf = Seq(
      (3L, null.asInstanceOf[String], "U", Seq(3), 1, "s"), // null key
      (4L, "c", "WAT", Seq(4), 1, "s") // unknown op
    ).toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source")
    val batch = batchDf(good).unionByName(badDf)
    val r1 = MergeInto.apply(spark, table, batch, "cp", 0, cfg)
    assert(!r1.skipped)
    assert(table.read(spark).count() === 2)
    val dlq = spark.read.parquet(s"$work/dlq/cp=cp/batch=0")
    assert(dlq.count() === 2)
    assert(dlq.filter(col("op") === "WAT").count() === 1)
    // replay: merge skipped (ledger); quarantine path stays identical
    val r2 = MergeInto.apply(spark, table, batch, "cp", 0, cfg)
    assert(r2.skipped)
    assert(spark.read.parquet(s"$work/dlq/cp=cp/batch=0").count() === 2)
  }

  test("a fully-invalid batch commits an empty ledger entry, no table change") {
    val work = tmpDir("lake-dlq2")
    val table = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq"))
    MergeInto.apply(spark, table, batchDf(Seq(ev(1, "a", Ops.Insert, Array(1)))), "cp", 0, cfg)
    val parent = table.currentManifest()
    def manifestFiles(): Set[String] =
      new java.io.File(s"$work/t/meta").list().filter(_.startsWith("m-")).toSet
    val filesBefore = manifestFiles()
    val allBad = Seq((9L, null.asInstanceOf[String], "U", Seq(9), 1, "s"))
      .toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source")
    val r = MergeInto.apply(spark, table, allBad, "cp", 1, cfg)
    assert(!r.skipped && r.lineage.isEmpty)
    assert(table.read(spark).count() === 1)
    val head = table.currentManifest()
    assert(head.committedSnapshot("cp", 1L).isDefined)
    // a ledger-only commit carries the parent's manifest list by
    // reference and writes no manifest file
    assert(head.manifests.map(_.path) === parent.manifests.map(_.path))
    assert(manifestFiles() === filesBefore)
  }

  test("lost CAS race: merge retries against the winner's snapshot") {
    val work = tmpDir("lake-race")
    val table = LakeTable(s"$work/t")
    MergeInto.apply(spark, table,
      batchDf(Seq(ev(1, "a", Ops.Insert, Array(1)))), "w1", 0,
      MergeConfig(numBuckets = 4))
    val v1 = table.currentVersion()

    // a competing writer lands version v1+1 between this merge's manifest
    // read and its commit (injected via the pre-commit hook, once)
    var fired = false
    val competing = () => if (!fired) {
      fired = true
      val m = table.currentManifest()
      table.commit(m.copy(version = m.version + 1,
        snapshotId = "competitor", parentSnapshotId = Some(m.snapshotId),
        ledger = m.ledger + ("w2/0" -> "competitor")))
    }
    val r = MergeInto.apply(spark, table,
      batchDf(Seq(ev(2, "z", Ops.Insert, Array(2)))), "w1", 1,
      MergeConfig(numBuckets = 4, preCommitHook = competing))
    assert(!r.skipped)
    // both writers' effects survive: competitor's ledger entry + our row
    val m = table.currentManifest()
    assert(m.version === v1 + 2)
    assert(m.ledger.contains("w2/0") && m.ledger.contains("w1/1"))
    assert(table.read(spark).count() === 2)
    // retries exhausted -> the conflict surfaces
    val alwaysCompete = () => {
      val cm = table.currentManifest()
      table.commit(cm.copy(version = cm.version + 1,
        snapshotId = java.util.UUID.randomUUID().toString,
        parentSnapshotId = Some(cm.snapshotId)))
    }
    intercept[graft.table.CommitConflictException] {
      MergeInto.apply(spark, table,
        batchDf(Seq(ev(3, "q", Ops.Insert, Array(3)))), "w1", 2,
        MergeConfig(numBuckets = 4, commitRetries = 2,
          preCommitHook = alwaysCompete))
    }
  }
}
