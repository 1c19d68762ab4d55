package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order-independent row digest. Each row hashes to 64 bits (a SplitMix
  * step per field, strings through xxhash64 of their UTF-8 bytes); a set of
  * rows digests to (count, wrapping sum of row hashes), so neither side has
  * to sort. Rows are read as Spark's internal rows: no per-row conversion.
  */
object Digest {
  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private val Null = 0x6e756c6cL

  def str(h: Long, s: UTF8String): Long =
    if (s == null) mix(h, Null)
    else mix(h, XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 7L))

  /** Hash of (doc_id, tokens, n_tok, source, lsn) from row `r`, whose
    * fields sit at the given ordinals; `lsn` is passed in (it may be null
    * in the feed).
    */
  def row(r: InternalRow, docId: Int, tokens: Int, nTok: Int, source: Int, lsn: Long,
      salt: Long = 0L): Long = {
    var h = str(salt, r.getUTF8String(docId))
    if (r.isNullAt(tokens)) h = mix(h, Null)
    else {
      val a = r.getArray(tokens)
      h = mix(h, a.numElements().toLong)
      var i = 0
      while (i < a.numElements()) { h = mix(h, a.getInt(i).toLong); i += 1 }
    }
    h = if (r.isNullAt(nTok)) mix(h, Null) else mix(h, r.getLong(nTok))
    h = str(h, if (r.isNullAt(source)) null else r.getUTF8String(source))
    mix(h, lsn)
  }

  /** (count, digest) of the live rows of a table read. */
  def ofTable(df: org.apache.spark.sql.DataFrame): (Long, Long) =
    df.select(col("doc_id"), col("tokens"), col("n_tok").cast("long"), col("source"),
        col("lsn")).queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { r => n += 1; sum += row(r, 0, 1, 2, 3, r.getLong(4)) }
      Iterator.single((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** What the oracle expects the table, the dead-letter store and the lineage
  * store to hold after a set of applied batches.
  */
final case class Expected(liveRows: Long, digest: Long, invalid: Long,
    bucketsByBatch: Map[(String, Long), Set[Int]])

/** Independent fold of the feed: last-writer-wins per key by LSN, deletes
  * remove, later events resurrect. Plain Scala over the feed files as
  * written; O(keys) memory. Shares no code with the engine's merge, table
  * or dedupe paths — the only Spark used is its parquet reader, its
  * xxhash64 (the bucket function the table is defined by) and its
  * executors: each partition folds its own rows and the driver folds the
  * partial states, which is the same fold because last-writer-wins by LSN
  * does not depend on the order events are seen in.
  *
  * The same pass pins the inputs: every feed row (applied or not) adds to
  * a row count, an order-independent hash and its segment's row count.
  */
final class Fold(numBuckets: Int) {
  // doc_id -> (lsn, row hash, 1 if the winning event is a delete)
  private val state = new java.util.HashMap[String, Array[Long]]()
  private val buckets = mutable.HashMap.empty[(String, Long), Set[Int]]
  private var invalid = 0L
  private var pinRows = 0L
  private var pinHash = 0L
  private val segRows = mutable.HashMap.empty[Long, Long]

  /** Fold every row of `paths` (files of one schema). `batchOf` maps a file
    * path to the batch that applied it; rows of other files only count
    * towards the pin.
    */
  def addFiles(spark: SparkSession, paths: Seq[String],
      batchOf: Map[String, (String, Long)]): Unit = if (paths.nonEmpty) {
    val nb = numBuckets
    val parts = spark.read.parquet(paths: _*).select(col("lsn"), col("doc_id"), col("op"),
        col("tokens"), col("n_tok").cast("long"), col("source"), input_file_name())
      .queryExecution.toRdd.mapPartitions(it => Iterator.single(FoldTask.run(it, batchOf, nb)))
      .collect()
    parts.foreach { pt =>
      pt.keys.foreach { case (k, v) =>
        val prev = state.get(k)
        if (prev == null || v(0) > prev(0)) state.put(k, v)
      }
      pt.buckets.foreach { case (b, bs) => buckets(b) = buckets.getOrElse(b, Set.empty) ++ bs }
      invalid += pt.invalid
      pinRows += pt.rows
      pinHash += pt.hash
      pt.segRows.foreach { case (sg, n) => segRows(sg) = segRows.getOrElse(sg, 0L) + n }
    }
  }

  def pin: Pin = Pin(pinRows, pinHash)
  def rowsOfSeg: Map[Long, Long] = segRows.toMap

  def result(): Expected = {
    var n = 0L
    var sum = 0L
    state.values().forEach { v => if (v(2) == 0L) { n += 1; sum += v(1) } }
    Expected(n, sum, invalid, buckets.toMap)
  }
}

/** One partition's share of a [[Fold]]. */
final case class FoldPart(keys: Array[(String, Array[Long])],
    buckets: Array[((String, Long), Set[Int])], invalid: Long, rows: Long,
    hash: Long, segRows: Array[(Long, Long)])

object FoldTask {
  private val validOps = Set("I", "U", "D", "UPSERT")
  private val Seg = "seg=(\\d+)".r

  def bucketOf(docId: String, numBuckets: Int): Int = {
    val u = UTF8String.fromString(docId)
    val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    Math.floorMod(h, numBuckets.toLong).toInt
  }

  def run(it: Iterator[InternalRow], batchOf: Map[String, (String, Long)],
      numBuckets: Int): FoldPart = {
    val state = new java.util.HashMap[String, Array[Long]]()
    val buckets = mutable.HashMap.empty[(String, Long), mutable.BitSet]
    val segRows = mutable.HashMap.empty[Long, Long]
    val segOfFile = mutable.HashMap.empty[String, Long]
    var invalid = 0L
    var rows = 0L
    var hash = 0L
    val batchOfFile = mutable.HashMap.empty[String, Option[(String, Long)]]
    it.foreach { r =>
      val file = r.getUTF8String(6).toString
      val nullLsn = r.isNullAt(0)
      val lsn = if (nullLsn) Long.MinValue else r.getLong(0)
      val docId = if (r.isNullAt(1)) null else r.getUTF8String(1).toString
      val op = if (r.isNullAt(2)) null else r.getUTF8String(2).toString
      val seg = segOfFile.getOrElseUpdate(file,
        Seg.findFirstMatchIn(file).map(_.group(1).toLong).getOrElse(-1L))
      rows += 1
      segRows(seg) = segRows.getOrElse(seg, 0L) + 1
      hash += Digest.str(Digest.row(r, 1, 3, 4, 5, lsn, seg), r.getUTF8String(2))
      batchOfFile.getOrElseUpdate(file, batchOf.get(StreamRun.norm(file))).foreach { batch =>
        if (docId == null || nullLsn || op == null || !validOps.contains(op)) invalid += 1
        else {
          buckets.getOrElseUpdate(batch, mutable.BitSet.empty) += bucketOf(docId, numBuckets)
          val prev = state.get(docId)
          if (prev == null || lsn > prev(0)) {
            val del = op == "D"
            state.put(docId, Array(lsn, if (del) 0L else Digest.row(r, 1, 3, 4, 5, lsn),
              if (del) 1L else 0L))
          }
        }
      }
    }
    FoldPart(state.asScala.toArray, buckets.map { case (b, s) => b -> s.toSet }.toArray,
      invalid, rows, hash, segRows.toArray)
  }
}

/** Input pin: row count plus an order-independent hash of every feed row,
  * its segment included, so the batch split is pinned too.
  */
final case class Pin(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Oracle {
  /** Compare the engine's stores to the oracle; returns the mismatches. */
  def check(spark: SparkSession, table: graft.table.LakeTable, exp: Expected,
      lineageDir: String, deadLetterDir: String): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val (n, d) = Digest.ofTable(table.read(spark))
    if (n != exp.liveRows) bad += s"live rows: table $n, oracle ${exp.liveRows}"
    if (d != exp.digest) bad += f"row digest: table $d%016x, oracle ${exp.digest}%016x"
    val dl =
      if (!new java.io.File(deadLetterDir).exists()) 0L
      else spark.read.parquet(deadLetterDir).count()
    if (dl != exp.invalid) bad += s"dead letters: $dl, injected ${exp.invalid}"
    val lineage: Map[(String, Long), Set[Int]] =
      if (!new java.io.File(lineageDir).exists()) Map.empty
      else spark.read.parquet(lineageDir).select(col("cp").cast("string"),
          col("batch_id"), col("partition")).collect()
        .groupBy(r => (r.getString(0), r.getLong(1)))
        .map { case (b, rs) => b -> rs.map(_.getInt(2)).toSet }
    exp.bucketsByBatch.foreach { case (b, want) =>
      val have = lineage.getOrElse(b, Set.empty)
      val missing = want -- have
      if (missing.nonEmpty)
        bad += s"lineage: batch ${b._1}/${b._2} lacks rows for buckets ${missing.toSeq.sorted.take(8).mkString(",")}"
    }
    bad.toSeq
  }
}
