package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.InvoiceModel.{MaxRetries, RetryBaseSeconds}

/** The durable retry/dead-letter state machine (SURVEY §2.2 K2, §2.8
  * R1/R4, §3.3) — the reference's most behaviorally distinctive
  * capability: `invoice_retry` rows cycle PENDING → PROCESSING →
  * {deleted | back to PENDING with backoff | dead-lettered to
  * `invoice_error_log`}.
  *
  * In the reference the four outcomes are four prepared-statement DMLs
  * dispatched per record on an in-flight `tag`
  * (`/root/reference/src/main/java/com/thaihoc/sink/InvoiceRetrySink.java:33-59`).
  * Spark-first, the state machine is DATA, not engine state: one pass
  * derives every tag (T5 / R4), and the sink applies the whole batch as
  * set operations — the K2 batch restatement below computes the exact
  * post-apply contents of both tables. In production the same DataFrames
  * feed `foreachBatch` JDBC writes (one transaction per batch,
  * idempotent on replay because every DML is keyed by id — see
  * `graft.streaming.Connectors`); no row-at-a-time dispatch, no
  * per-record transaction, and the whole derivation stays inside
  * whole-stage codegen.
  */
object RetryOps {

  /** K2 — tag-dispatched retry DML apply (`InvoiceRetrySink.java:33-59`),
    * restated as the post-apply table contents:
    *
    *   - UPDATE (`:36`): row stays in `invoice_retry`, state back to
    *     PENDING, incremented count, backoff interval.
    *   - DELETE (`:40`): claimed row removed — absent from the output.
    *   - MAX_RETRY (`:115-124`): dead-lettered into `invoice_error_log`
    *     with `attempt = retry_count - 1`, then removed from the queue.
    *   - CREATE (`:37`, fed by the T3 reject taxonomy,
    *     `InvoiceRequestTransformer.java:158-168`): fresh row with
    *     retry_count 0, state PENDING, first retry slot one base
    *     interval out (`InvoiceRequestTransformer.java:48` sets
    *     `next_retry_time = retryIntervalMs/1000`; the RESPONSE job's
    *     creates leave the field 0 — this operator restates the
    *     request-side path).
    *
    * One output row per surviving (id, op); `op` disambiguates an id
    * that is both re-created by a reject and updated by a retry. */
  /** Deterministic stand-in for the DML's `CURRENT_TIMESTAMP` anchor
    * (`InvoiceRetrySink.java:33,36`: `CURRENT_TIMESTAMP + INTERVAL ?
    * SECOND`) — a literal so `next_retry_at` can sit in hash-compared
    * output; production binds the real clock. */
  private val RetryEpoch = "2024-01-01 00:00:00"

  def retryApply(s: SparkSession, dir: String): DataFrame = {
    val t5 = RequestOps.retryBackoffCore(s, dir)
    def retryAt(secs: org.apache.spark.sql.Column) =
      to_timestamp(lit(RetryEpoch)) + make_interval(
        lit(0), lit(0), lit(0), lit(0), lit(0), lit(0), secs.cast("decimal(18,6)"))
    val updates = t5.filter(col("tag") === "UPDATE").select(
      col("event_id").as("id"),
      lit("UPDATE").as("op"),
      lit("invoice_retry").as("sink_table"),
      lit("PENDING").as("state"),
      col("new_retry_count").as("retry_count"),
      col("next_retry_secs"),
      retryAt(col("next_retry_secs")).as("next_retry_at"),
      lit(null).cast("string").as("error_message"))
    val deadLetters = t5.filter(col("tag") === "MAX_RETRY").select(
      col("event_id").as("id"),
      lit("ERROR_LOG").as("op"),
      lit("invoice_error_log").as("sink_table"),
      lit(null).cast("string").as("state"),
      (col("retry_count") - 1).cast("tinyint").as("retry_count"),
      lit(null).cast("long").as("next_retry_secs"),
      lit(null).cast("timestamp").as("next_retry_at"),
      lit(null).cast("string").as("error_message"))
    val creates = RequestOps.rejectsCore(s, dir).select(
      col("event_id").as("id"),
      lit("INSERT").as("op"),
      lit("invoice_retry").as("sink_table"),
      lit("PENDING").as("state"),
      lit(0).cast("tinyint").as("retry_count"),
      lit(RetryBaseSeconds).as("next_retry_secs"),
      retryAt(lit(RetryBaseSeconds)).as("next_retry_at"),
      col("error_message"))
    updates.unionByName(deadLetters).unionByName(creates)
      .transform(Common.presented(_, col("id"), col("op")))
  }

  /** R4 — response-side retry re-transform
    * (`InvoiceResponseBatchProcessor.java:276-303`): the request-side T5
    * twin, with the failure modes of the RESPONSE path — max-retry
    * cutoff first (`:277-281`), then payload re-deserialization: sniff
    * failure throws "Unknown record type" (`:306-316`), an out-of-domain
    * api_type on the DESERIALIZED record throws "Unknown api_type"
    * (`:285-287`; a payload missing api_type deserializes to the POJO
    * default 0 — distinct from G1's column-first fallback), success
    * routes DELETE. Failures take `next_retry_secs = base · 2^(n+1)`
    * (increment-then-pow, `:295-299` — same as T5). */
  def responseRetry(s: SparkSession, dir: String): DataFrame = {
    val st = ResponseOps.staging(s, dir)
      .withColumn("retry_count", (col("id") % 5).cast("tinyint"))
    val sniffed = ResponseOps.sniffedKind
    // deserialized-record api_type: payload field only, POJO default 0
    val payloadApi = coalesce(col("pj.api_type"), lit(0))
    val errorMsg = when(col("retry_count") > MaxRetries, lit(null).cast("string"))
      .when(sniffed.isNull, lit("Unknown record type"))
      .when(!ResponseOps.inDomain(payloadApi),
        concat(lit("Unknown api_type: "), payloadApi))
    val failed = errorMsg.isNotNull
    st.select(
        col("id"),
        col("retry_count"),
        when(col("retry_count") > MaxRetries, lit("MAX_RETRY"))
          .when(failed, lit("UPDATE"))
          .otherwise(lit("DELETE")).as("tag"),
        errorMsg.as("error_message"),
        when(failed,
          (lit(RetryBaseSeconds) * pow(lit(2.0), col("retry_count") + 1)).cast("long"))
          .as("next_retry_secs"),
        when(failed, (col("retry_count") + 1).cast("tinyint"))
          .as("new_retry_count"))
      .transform(Common.presented(_, col("id")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k2_retry_apply" -> (retryApply _),
    "r4_response_retry" -> (responseRetry _))

  /** Oracles restate post-extraction values from the same event
    * arithmetic (see RequestOps.oracles note). The R4 payload api_type
    * is present iff id%13≠0 with value 10+id%7 (∈10..16; 15/16 out of
    * domain), and the sniff succeeds iff user_id%2=0 (InvIn — fpt keys
    * always present) or id%9≠0 (InvOut — gdt_res present). */
  val oracles: Map[String, String] = Map(
    "k2_retry_apply" ->
      """SELECT * FROM (
        |  SELECT event_id AS id, 'UPDATE' AS op, 'invoice_retry' AS sink_table,
        |         'PENDING' AS state,
        |         CAST(event_id % 5 + 1 AS TINYINT) AS retry_count,
        |         CAST(10 * power(2, event_id % 5 + 1) AS BIGINT) AS next_retry_secs,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + CAST(10 * power(2, event_id % 5 + 1) AS BIGINT) * INTERVAL 1 SECOND
        |           AS next_retry_at,
        |         CAST(NULL AS VARCHAR) AS error_message
        |  FROM events WHERE user_id % 2 <> 0 AND event_id % 5 <= 3
        |  UNION ALL
        |  SELECT event_id AS id, 'ERROR_LOG' AS op, 'invoice_error_log' AS sink_table,
        |         CAST(NULL AS VARCHAR) AS state,
        |         CAST(event_id % 5 - 1 AS TINYINT) AS retry_count,
        |         CAST(NULL AS BIGINT) AS next_retry_secs,
        |         CAST(NULL AS TIMESTAMP) AS next_retry_at,
        |         CAST(NULL AS VARCHAR) AS error_message
        |  FROM events WHERE event_id % 5 > 3
        |  UNION ALL
        |  SELECT event_id AS id, 'INSERT' AS op, 'invoice_retry' AS sink_table,
        |         'PENDING' AS state,
        |         CAST(0 AS TINYINT) AS retry_count,
        |         CAST(10 AS BIGINT) AS next_retry_secs,
        |         TIMESTAMP '2024-01-01 00:00:10' AS next_retry_at,
        |         CASE WHEN user_id % 3 = 2 THEN 'stax is null'
        |              WHEN event_id % 3 = 2 THEN 'sid is null'
        |              ELSE 'api_type is null' END AS error_message
        |  FROM events
        |  WHERE user_id % 3 = 2 OR event_id % 3 = 2 OR event_id % 7 = 6
        |) ORDER BY id, op""".stripMargin,
    "r4_response_retry" ->
      """SELECT event_id AS id,
        |       CAST(event_id % 5 AS TINYINT) AS retry_count,
        |       CASE WHEN event_id % 5 > 3 THEN 'MAX_RETRY'
        |            WHEN user_id % 2 <> 0 AND event_id % 9 = 0 THEN 'UPDATE'
        |            WHEN event_id % 13 = 0 OR event_id % 7 >= 5 THEN 'UPDATE'
        |            ELSE 'DELETE' END AS tag,
        |       CASE WHEN event_id % 5 > 3 THEN CAST(NULL AS VARCHAR)
        |            WHEN user_id % 2 <> 0 AND event_id % 9 = 0 THEN 'Unknown record type'
        |            WHEN event_id % 13 = 0 THEN 'Unknown api_type: 0'
        |            WHEN event_id % 7 >= 5 THEN 'Unknown api_type: ' || CAST(10 + event_id % 7 AS VARCHAR)
        |       END AS error_message,
        |       CASE WHEN event_id % 5 <= 3 AND
        |                 (
        |                  (user_id % 2 <> 0 AND event_id % 9 = 0) OR
        |                  event_id % 13 = 0 OR event_id % 7 >= 5)
        |            THEN CAST(10 * power(2, event_id % 5 + 1) AS BIGINT)
        |       END AS next_retry_secs,
        |       CAST(CASE WHEN event_id % 5 <= 3 AND
        |                 (
        |                  (user_id % 2 <> 0 AND event_id % 9 = 0) OR
        |                  event_id % 13 = 0 OR event_id % 7 >= 5)
        |            THEN event_id % 5 + 1
        |       END AS TINYINT) AS new_retry_count
        |FROM events ORDER BY id""".stripMargin)
}
