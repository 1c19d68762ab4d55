package graft.streaming

import graft.model.ChangeEvent
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics operators beyond the CDC tail: event-time windowed
  * aggregation with watermarks, and keyed last-writer-wins state kept in
  * the Spark state store (`flatMapGroupsWithState`) — the streaming
  * counterpart of the batch dedupe window for pipelines that want the
  * current winner per key continuously rather than per-snapshot.
  */
object StreamOps {

  /** Tumbling event-time windowed counts/sums with a watermark: the
    * streaming form of the reference's `QueryRecord`-then-aggregate flows.
    * `events` must be a streaming frame with an event-time column.
    */
  def windowedCounts(events: DataFrame, tsCol: String, valueCol: String,
      windowLen: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("total_value"))

  /** Default state-eviction slack: far above any sane feed's out-of-order
    * LSN delay, yet it still bounds state at 10^10-event scale (state ~
    * keys written in the last 2 x 10^7 LSNs, not all keys ever).
    */
  val DefaultFenceSlackLsns: Long = 10000000L

  /** Continuously-updated last-writer-wins state per doc_id: each
    * micro-batch emits the keys whose winning event changed. State =
    * highest-LSN event seen; deletes remain in state as fences (the
    * streaming analog of the table tombstone) and emit op=D rows so sinks
    * can remove.
    *
    * `fenceSlackLsns` bounds the state store — always, by default at
    * [[DefaultFenceSlackLsns]]: at 10^9+ keys an unbounded store would
    * keep every key (and every delete fence) forever. LSNs double as
    * event time (1 LSN = 1 second) under a watermark of `fenceSlackLsns`,
    * and a key evicts once the feed has advanced `2 x slack` LSNs past the
    * key's last write: the streaming analog of the table's tombstone
    * watermark, with the SAME caller contract — the slack must exceed the
    * feed's maximum out-of-order LSN delay, because after eviction a
    * late-arriving older event for that key would be accepted as a fresh
    * winner (exactly as a compacted table accepts a sub-watermark
    * straggler). Inside the slack window LWW answers stay exact. Keyed to
    * feed progress, not wall clock: deterministic under replay, and an
    * idle stream evicts nothing (no silent fence loss during an outage).
    */
  def lwwState(events: Dataset[ChangeEvent],
      fenceSlackLsns: Long = DefaultFenceSlackLsns): Dataset[ChangeEvent] = {
    import events.sparkSession.implicits._
    require(fenceSlackLsns > 0, "fenceSlackLsns must be positive")

    def lwwStep(state: GroupState[ChangeEvent], batch: Iterator[ChangeEvent]) = {
      val incoming = batch.reduceOption((a, b) => if (a.lsn >= b.lsn) a else b)
      incoming match {
        case Some(win) if !state.exists || win.lsn >= state.get.lsn =>
          state.update(win)
          Iterator.single(win)
        case _ => Iterator.empty
      }
    }

    // the watermarked column must reach the stateful operator's input
    // (dropping it fails Spark's event-time-timeout check), so the
    // events ride in a wrapper carrying the derived timestamp
    events
      .withColumn("_ts", timestamp_seconds(col("lsn")))
      .withWatermark("_ts", s"$fenceSlackLsns seconds")
      .as[TimedEvent]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[ChangeEvent, ChangeEvent](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_, batch, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = lwwStep(state, batch.map(_.event))
            // evict when the watermark (feed head minus slack) passes
            // the key's last write by another slack; the max() guard
            // keeps the target legal when the key is already far
            // behind the watermark at arrival
            state.getOption.foreach { s =>
              state.setTimeoutTimestamp(math.max(
                (s.lsn + fenceSlackLsns) * 1000L,
                state.getCurrentWatermarkMs() + 1000L))
            }
            out
          }
      }
  }

  /** [[ChangeEvent]] plus its LSN-derived event-time column (field name
    * `_ts` matches the watermarked column).
    */
  private[streaming] final case class TimedEvent(
      lsn: Long, doc_id: String, op: String, tokens: Array[Int],
      n_tok: Int, source: String, _ts: java.sql.Timestamp) {
    def event: ChangeEvent = ChangeEvent(lsn, doc_id, op, tokens, n_tok, source)
  }
}
