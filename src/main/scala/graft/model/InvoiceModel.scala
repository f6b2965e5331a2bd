package graft.model

import org.apache.spark.sql.types._

/** Schemas for the reference's record shapes (FIXTURES.md; reconstructed from
  * `/root/reference/src/main/java/com/thaihoc/model/...`). All schemas are
  * explicit — never inferred — per SURVEY.md §1.3.
  */
object InvoiceModel {

  /** R2 routing table, in the router's switch order: api_type →
    * response topic, 10=CRT 11=UPD 12=DEL 13=REP 14=ADJ
    * (`process/response/InvoiceResponseKafkaRouter.java:52-70`; topic
    * names `resources/application.properties:13-17`). */
  val ResponseTopics: Seq[(Int, String)] = Seq(
    10 -> "mtt.crt.response",
    11 -> "mtt.upd.response",
    12 -> "mtt.del.response",
    13 -> "mtt.rep.response",
    14 -> "mtt.adj.response")

  /** api_type domain (T6): the routing table's keys — a type with no
    * topic is out of domain (the router's default throw, `:68-69`). */
  val ApiTypes: Seq[Int] = ResponseTopics.map(_._1)

  /** group_id buckets = group.id.max.value(4) + 1
    * (`application.properties:42`, `job/InvoiceRequest.java:43`). */
  val GroupIdBuckets: Int = 5

  /** Retry policy (`application.properties:43-44`): base 10 s, doubling per
    * attempt (`process/request/InvoiceRequestTransformer.java:132`), max 3. */
  val RetryBaseSeconds: Long = 10L
  val MaxRetries: Int = 3

  /** One element of the `inv_pack` array in a request packet
    * (`process/request/InvoiceRequestTransformer.java:55-110`): fields may sit
    * at the element top level OR nested under `inv` (fallback chains at
    * `:57-89`). `inv` carries the arbitrary invoice body; we model the probed
    * fields plus a `body` stand-in.
    */
  val invStruct: StructType = StructType(Seq(
    StructField("sid", StringType),
    StructField("stax", StringType),
    StructField("syncid", StringType),
    StructField("body", StringType)))

  val packElementSchema: StructType = StructType(Seq(
    StructField("api_type", IntegerType),
    StructField("sid", StringType),
    StructField("syncid", StringType),
    StructField("stax", StringType),
    StructField("inv", invStruct)))

  /** Root packet: `{"inv_pack":[element...]}`
    * (`InvoiceRequestTransformer.java:36-53`). */
  val packetSchema: StructType = StructType(Seq(
    StructField("inv_pack", ArrayType(packElementSchema))))

  /** `async_inv_in` staging table — 18 insert columns + auto-increment id
    * (`job/InvoiceRequest.java:111-116`, `source/AsyncInvInSource.java:66-79`).
    * `RequestPipeline.run` writes exactly these fields minus `id`. The
    * other tables' shapes are documented in FIXTURES.md §3-6. */
  val asyncInvInSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("tax_schema", StringType),
    StructField("inv", StringType),
    StructField("api_type", ByteType),
    StructField("res_type", ByteType),
    StructField("fpt_einvoice_res_code", StringType),
    StructField("fpt_einvoice_res_msg", StringType),
    StructField("fpt_einvoice_res_json", StringType),
    StructField("retry", ByteType),
    StructField("state", ByteType),
    StructField("group_id", ByteType),
    StructField("created_date", TimestampType),
    StructField("updated_date", TimestampType),
    StructField("callback_res_code", StringType),
    StructField("callback_res_msg", StringType),
    StructField("callback_res_json", StringType),
    StructField("sid", StringType),
    StructField("syncid", StringType),
    StructField("process_kafka", StringType)))
}
