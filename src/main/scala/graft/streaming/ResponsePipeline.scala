package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.ResponseOps.{inDomain, topic}
import graft.streaming.MicroBatcher.{Packet, Rec}

/** Streaming restatement of reference job 2 (SURVEY §3.2,
  * `/root/reference/src/main/java/com/thaihoc/job/InvoiceResponse.java:27-167`):
  *
  *   staging record stream → G1 key extraction → G2/G3 count-OR-timeout
  *   micro-batching with in-buffer dedup ([[MicroBatcher]]) → G4 packet
  *   JSON → R2 topic routing → K4 Kafka sink (topic-column routed).
  *
  * A packet's `reason` is `count` (the key's buffer reached
  * `batchSize`) or `timeout` (its oldest pending row has waited
  * `timeoutMs`, however often the key received input meanwhile).
  *
  * Matching the reference's ordering contract (Kafka emit first, then
  * the transactional log-and-delete — `InvoiceResponseBatchProcessor
  * .java:207-211`), the packet stream is THE output here. This job
  * does not run the log-and-delete side (K3): a deployment binds it
  * over the same flushed batches in its own `foreachBatch`
  * transaction; `ResponseOps.logProject`/`deleteRemaining` restate it
  * for the oracle.
  *
  * Scale: the one shuffle is `groupByKey(api_type)` — the reference's
  * sole network repartition too (`job/InvoiceResponse.java:98`); per-key
  * state is bounded at batchSize rows ([[MicroBatcher]] scale notes).
  */
object ResponsePipeline {

  /** Records → flushed packets → (topic, value) rows ready for the
    * routed Kafka sink (R2: `ResponseOps.topic`). */
  def packets(recs: Dataset[Rec], batchSize: Int, timeoutMs: Long): DataFrame = {
    // T6 domain guard (`ResponseOps.inDomain`): out-of-domain api_types
    // (incl. the G1 fallback key 0) never reach the batcher — they
    // belong to the retry path (R4 "Unknown api_type",
    // `InvoiceResponseBatchProcessor.java:285-287`). Without this, an
    // unknown key would produce a NULL topic row that the Kafka sink
    // rejects at write time.
    val flushed: Dataset[Packet] =
      MicroBatcher(recs.filter(inDomain(col("apiType"))), batchSize, timeoutMs)
    flushed.toDF()
      .select(
        topic(col("apiType")).as("topic"),
        to_json(struct(col("items").as("inv_pack_res"))).as("value"),
        col("apiType"), col("seq"), col("size"), col("reason"))
  }

  /** The response query's trigger. It paces the timer-driven empty
    * micro-batches that ProcessingTimeTimeout schedules between data
    * arrivals — without it the no-trigger default re-plans them
    * back-to-back. */
  private val Pacing: Trigger = Trigger.ProcessingTime(500)

  /** Harness binding: routed packets append to `<outDir>/kafka_out`
    * (production: `Connectors.kafkaRoutedSink`), paced by [[Pacing]]. */
  def run(recs: Dataset[Rec], outDir: String, checkpointDir: String,
      batchSize: Int, timeoutMs: Long): StreamingQuery =
    packets(recs, batchSize, timeoutMs).writeStream
      .trigger(Pacing)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/kafka_out")
        ()
      }
      .start()
}
