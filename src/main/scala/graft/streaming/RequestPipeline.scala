package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.InvoiceModel
import graft.operators.RequestOps.{fallback, groupId, rejectReason}

/** Streaming restatement of reference job 1 (SURVEY §3.1,
  * `/root/reference/src/main/java/com/thaihoc/job/InvoiceRequest.java:25-162`):
  *
  *   Kafka value-string packets → T2 explode (`inv_pack` element + index)
  *   → T3 validate with nested fallback → T4 derive → split → K1 staging
  *   append + K2 create-retry append, both in ONE `foreachBatch`.
  *
  * The packet parses once (`from_json` + `posexplode` — the built-in
  * generator covers the reference's UDTF-style flatMap,
  * `InvoiceRequestTransformer.java:34-53`); element-level failures
  * become rows in the retry output instead of poisoning the batch,
  * mirroring the element-scoped try/catch at `:42-49`. The T3 fallback,
  * the reject taxonomy and T4's `group_id` are the oracle-checked
  * definitions in `RequestOps`. The `foreachBatch`
  * multi-write replaces Flink side-output tags: one cached micro-batch,
  * two filtered writes — in production the writers are
  * `Connectors.jdbcBatchAppend` (K1) and the K2 DML apply; the harness
  * binds them to parquet appends.
  *
  * Scale: everything before the sink is narrow (parse+generate+project
  * in one codegen stage, no shuffle); parallelism is the Kafka partition
  * count. The uuid() default for a missing syncid is generated at write
  * time exactly like the reference's `UUID.randomUUID()`
  * (`InvoiceRequestTransformer.java:88`).
  */
object RequestPipeline {

  /** T2+T3+T4 over a `value: string` packet stream — works identically on
    * a batch or streaming DataFrame. Output carries both branches,
    * discriminated by `error_message IS NULL`. */
  def transform(packets: DataFrame): DataFrame =
    packets
      .select(col("value"),
        posexplode(from_json(col("value"), InvoiceModel.packetSchema)("inv_pack"))
          .as(Seq("pos", "e")))
      .select(
        col("pos"),
        fallback("stax").as("stax"),
        fallback("sid").as("sid"),
        coalesce(fallback("syncid"), uuid()).as("syncid"),
        col("e.api_type").cast("tinyint").as("api_type"),
        to_json(col("e")).as("inv"),
        groupId(col("pos")).as("group_id"),
        rejectReason(fallback("stax"), fallback("sid"), col("e.api_type"))
          .as("error_message"))

  /** The K1 staging row: [[InvoiceModel.asyncInvInSchema]] minus the
    * auto-increment `id`, in its order. Each supplied column binds by
    * name and casts to its declared type; every other field is a null
    * of that type — the reference's 18-column binding
    * (`job/InvoiceRequest.java:111-143`: `tax_schema` IS the extracted
    * stax, response/callback columns null at ingest, retry 0, state 0). */
  private def stagingRow(bound: Map[String, Column]): Seq[Column] =
    InvoiceModel.asyncInvInSchema.fields.toSeq.filter(_.name != "id").map(f =>
      bound.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name))

  /** Wire the transform to a micro-batched dual sink: valid rows append
    * to `<outDir>/async_inv_in` (K1, [[stagingRow]]), rejects to
    * `<outDir>/invoice_retry` (K2 CREATE branch, retry_count 0 /
    * PENDING per `InvoiceRequestTransformer.java:158-168`). */
  def run(packets: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    transform(packets).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try {
          b.filter(col("error_message").isNull)
            .select(stagingRow(Map(
              "tax_schema" -> col("stax"),
              "inv" -> col("inv"),
              "api_type" -> col("api_type"),
              "retry" -> lit(0),
              "state" -> lit(0),
              "group_id" -> col("group_id"),
              "created_date" -> current_timestamp(),
              "sid" -> col("sid"),
              "syncid" -> col("syncid"))): _*)
            .write.mode("append").parquet(s"$outDir/async_inv_in")
          b.filter(col("error_message").isNotNull)
            .select(col("inv").as("payload"), col("error_message"),
              col("sid"), col("syncid"),
              lit(0).cast("tinyint").as("retry_count"),
              lit("PENDING").as("state"), lit("REQUEST").as("job"),
              // first retry slot one base interval out
              // (`InvoiceRequestTransformer.java:48`)
              lit(InvoiceModel.RetryBaseSeconds).as("next_retry_secs"))
            .write.mode("append").parquet(s"$outDir/invoice_retry")
        } finally b.unpersist()
        ()
      }
      .start()
}
