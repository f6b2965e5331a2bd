package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** G2 — the reference's one genuinely stateful operator: per-key
  * count-OR-timeout micro-batching
  * (`InvoiceResponseBatchProcessor.java:26-316`: flush when the buffer
  * reaches `batchSize` (`:130-140`) OR when a processing-time timer
  * fires `batchTimeoutMs` after the first buffered record
  * (`:158-183`)). Restated Spark-first as
  * `flatMapGroupsWithState(Append, ProcessingTimeTimeout)`:
  *
  *   - count path: every input burst drains the buffer in `batchSize`
  *     chunks — full packets emit immediately, matching `:130-140`.
  *   - timeout path: the remainder waits until `timeoutMs` after its
  *     OLDEST pending row was buffered, not after the latest input —
  *     matching the timer flush at `:158-183`. Spark only times out a
  *     key that got no data in a micro-batch, so a call that brings
  *     input past the deadline flushes the remainder itself; otherwise
  *     `setTimeoutDuration` is armed to the time left on that one
  *     deadline. The only flush reasons are `count` and `timeout`.
  *   - G3 dedup (`:110-121`): the reference keeps an UNBOUNDED seen-set
  *     per key (a leak it never evicts). Here dedup state is the
  *     record-keys of the CURRENT buffer only, dropped on flush — within-
  *     batch idempotence with bounded state; cross-batch idempotence
  *     belongs to `dropDuplicatesWithinWatermark` upstream.
  *
  * Scale notes: state per key is ≤ batchSize buffered rows — bounded by
  * construction, no skew hazard from the ≤6-value api_type key domain
  * beyond the parallelism cap the reference has too (SURVEY §3.2); salt
  * the key with `pmod(hash(sid), k)` to widen it (the reference never
  * guaranteed cross-subtask batch composition either, SURVEY §7.2).
  *
  * Not DuckDB-expressible (processing-time); the deterministic batch
  * restatement is `ResponseOps.batchBuckets` / `packets` — this class is
  * exercised by MicroBatcherSpec via MemoryStream.
  */
object MicroBatcher {

  /** One buffered record: (recordKey for dedup, payload). */
  case class Rec(apiType: Int, recordKey: String, payload: String)

  /** Emitted packet: flush reason ∈ {count, timeout}. */
  case class Packet(apiType: Int, seq: Long, size: Int,
      items: Seq[String], reason: String)

  /** Buffer carried in GroupState: pending rows + per-key packet
    * sequence counter + keys of the rows currently buffered + wall time
    * the oldest pending row was buffered (0 when empty). */
  case class Buf(pending: List[Rec], seq: Long, seenKeys: Set[String],
      firstAt: Long)

  /** `clock` is injectable for deterministic tests; production uses the
    * wall clock, as the reference does
    * (`InvoiceResponseTimerManager.java:33-35`). */
  def apply(ds: Dataset[Rec], batchSize: Int, timeoutMs: Long,
      clock: () => Long = () => System.currentTimeMillis()): Dataset[Packet] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.apiType)
      .flatMapGroupsWithState[Buf, Packet](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key: Int, rows: Iterator[Rec], state: GroupState[Buf]) =>
          val now = clock()
          val prior = state.getOption.getOrElse(Buf(Nil, 0L, Set.empty, 0L))
          // dedup new rows against the current buffer (G3, `:110-121`);
          // a timer call (hasTimedOut) brings no rows
          val fresh = rows.filterNot(r => prior.seenKeys(r.recordKey))
            .toList.distinctBy(_.recordKey)
          val all = prior.pending ++ fresh
          // count path: drain full packets (`:130-140`)
          val (full, rest) = (all.grouped(batchSize).toList
            .partition(_.size == batchSize))
          val countPackets = full.zipWithIndex.map { case (chunk, i) =>
            Packet(key, prior.seq + i, chunk.size, chunk.map(_.payload), "count")
          }
          val remainder = rest.flatten
          // the remainder still contains prior-buffered rows only when
          // the count-flushes didn't drain all of them; otherwise its
          // oldest row arrived THIS call and its deadline starts now
          val firstAt =
            if (prior.pending.size > full.size * batchSize) prior.firstAt else now
          // timeout path (`:158-183`): the timer fired, or the key got
          // input past its deadline (Spark never times out a key that
          // receives data in every micro-batch)
          val (kept, timeoutPackets) =
            if (remainder.nonEmpty &&
                (state.hasTimedOut || now - firstAt >= timeoutMs))
              (Nil, List(Packet(key, prior.seq + full.size, remainder.size,
                remainder.map(_.payload), "timeout")))
            else (remainder, Nil)
          // The seq counter SURVIVES a flush (state.update, not remove)
          // so (apiType, seq) stays a unique packet identity across the
          // key's lifetime — a removed state would restart every burst
          // at seq 0. The timeout is only armed while rows are pending,
          // for the time left until firstAt + timeoutMs (> 0: the
          // remainder is not overdue), so an emptied state is inert
          // until new input.
          state.update(Buf(kept, prior.seq + full.size + timeoutPackets.size,
            kept.map(_.recordKey).toSet, if (kept.isEmpty) 0L else firstAt))
          if (kept.nonEmpty) state.setTimeoutDuration(firstAt + timeoutMs - now)
          (countPackets ++ timeoutPackets).iterator
      }
  }
}
