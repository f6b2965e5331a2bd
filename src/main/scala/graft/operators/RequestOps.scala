package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.InvoiceModel.GroupIdBuckets
import graft.sources.Tables

/** Request-ingestion operators (reference job 1).
  *
  * The reference consumes JSON "invoice packets" from Kafka, explodes the
  * `inv_pack` array into per-invoice rows, validates/enriches them and
  * routes failures to a retry queue
  * (`/root/reference/src/main/java/com/thaihoc/process/request/InvoiceRequestTransformer.java:34-136`).
  * Here the same operator semantics are expressed as declarative DataFrame
  * programs over the harness's `events` table: packets are per-user event
  * groups, elements are JSON strings built from event columns. Everything
  * stays inside whole-stage codegen (no UDFs): JSON via
  * `to_json`/`get_json_object`, explode via `posexplode`, validation via
  * ordered `when` cascades — Catalyst pushes the scan-level pruning and
  * keeps the explode pipelined with the downstream projection.
  */
object RequestOps {

  /** T2 — packet explode with element index
    * (`InvoiceRequestTransformer.java:34-53`): one row per `inv_pack`
    * element carrying its position `pos` (feeds `group_id`, T4).
    *
    * Packets are per-`user_id` groups ordered by `event_id`; the element
    * index is a `row_number` window, NOT a `collect_list`-then-`posexplode`
    * round trip. Both shuffle once on `user_id`, but the window streams
    * each partition with constant memory, while `collect_list` would
    * materialize every packet as an in-buffer array — an executor OOM
    * under key skew at 100× scale. `collect_list` is reserved for G4,
    * where the packet itself is the output.
    */
  def explode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.select(
        col("user_id"),
        (row_number().over(byUser) - 1).as("pos"),
        col("event_id"),
        col("props"))
      .transform(Common.presented(_, col("user_id"), col("pos")))
  }

  /** Synthetic invoice-element JSON built from event columns. Field
    * placement varies per row so the T3 fallback chains
    * (`InvoiceRequestTransformer.java:55-96`) are genuinely exercised:
    *   - sid:    event_id%3==0 → top level; ==1 → nested under inv; ==2 → absent
    *   - stax:   user_id%3==0  → top level; ==1 → nested under inv; ==2 → absent
    *   - syncid: present iff event_id%2==0 (absent → defaulted, not rejected)
    *   - api_type: absent iff event_id%7==6
    * `to_json` drops null struct fields, so "absent" means absent.
    */
  private[graft] def withElementJson(ev: DataFrame): DataFrame = {
    val sidVal = concat(lit("S"), col("event_id"))
    val staxVal = concat(lit("T"), col("user_id"))
    val syncVal = concat(lit("Y"), col("event_id"))
    val apiVal =
      when(col("event_id") % 7 =!= 6, (lit(10) + col("event_id") % 7).cast("int"))
    // `e` is the element as from_json(j, packElementSchema) would parse
    // it (schema field order; nested inv always a non-null struct
    // because the JSON always carries the "inv" key, possibly {}).
    // PayloadParseSpec pins the equivalence row-for-row; operators
    // consume `e` so plans that never output `j` prune the to_json —
    // the same arithmetic surface the oracles restate. This replaced a
    // persist()ed from_json projection whose parse the bench measured
    // at ~0.7 s of t3/k2's time at sf0.1.
    ev.withColumn("j", to_json(struct(
        when(col("event_id") % 3 === 0, sidVal).as("sid"),
        when(col("user_id") % 3 === 0, staxVal).as("stax"),
        when(col("event_id") % 2 === 0, syncVal).as("syncid"),
        apiVal.as("api_type"),
        struct(
          when(col("event_id") % 3 === 1, sidVal).as("sid"),
          when(col("user_id") % 3 === 1, staxVal).as("stax")).as("inv"))))
      .withColumn("e", struct(
        apiVal.as("api_type"),
        when(col("event_id") % 3 === 0, sidVal).as("sid"),
        when(col("event_id") % 2 === 0, syncVal).as("syncid"),
        when(col("user_id") % 3 === 0, staxVal).as("stax"),
        struct(
          when(col("event_id") % 3 === 1, sidVal).as("sid"),
          when(col("user_id") % 3 === 1, staxVal).as("stax"),
          lit(null).cast("string").as("syncid"),
          lit(null).cast("string").as("body")).as("inv")))
  }

  /** T3 nested fallback over a parsed element `e`
    * (`InvoiceRequestTransformer.java:57-96`): the top-level field
    * first, then `inv.<field>`. `RequestPipeline.transform` reads its
    * packets through the same chain. */
  private[graft] def fallback(field: String): Column =
    coalesce(col(s"e.$field"), col(s"e.inv.$field"))

  /** T3's required fields and reject reasons in the reference's throw
    * order (stax `:65` → sid `:78` → api_type `:95`): the ONE statement
    * of T3 validity that [[rejectReason]] and [[isValid]] both fold. */
  private def requiredLegs(stax: Column, sid: Column, apiType: Column) =
    Seq(stax -> "stax is null", sid -> "sid is null", apiType -> "api_type is null")

  /** T3 reject taxonomy: the first missing required field; null when
    * the element is valid. Shared by [[rejectsCore]] and
    * `RequestPipeline.transform`. */
  private[graft] def rejectReason(stax: Column, sid: Column, apiType: Column): Column = {
    val (c0, r0) +: rest = requiredLegs(stax, sid, apiType): @unchecked
    rest.foldLeft(when(c0.isNull, lit(r0))) { case (w, (c, r)) => w.when(c.isNull, lit(r)) }
  }

  /** T3 validity: every required field present. */
  private def isValid(stax: Column, sid: Column, apiType: Column): Column =
    requiredLegs(stax, sid, apiType).map(_._1.isNotNull).reduce(_ && _)

  /** T4 `group_id = pos % groupIdBuckets`: the round-robin bucket from
    * the element's packet position (`InvoiceRequestTransformer.java:101-102`).
    * Shared by [[derive]] and `RequestPipeline.transform`. */
  private[graft] def groupId(pos: Column): Column =
    pmod(pos, lit(GroupIdBuckets)).cast("tinyint")

  /** Extraction with nested fallback ([[fallback]]), shared by
    * validate/rejects.
    *
    * The fallback coalesces are struct-field accesses over `e` —
    * plain column arithmetic after `SimplifyExtractValueOps`, so the
    * validity filter's predicate legs cost nothing even when Catalyst
    * duplicates them (the round-4 persist()ed from_json projection
    * existed to stop the optimizer substituting a full JSON
    * serialize+parse round trip into each of five predicate legs; with
    * `e` direct there is no round trip to duplicate, no cache to leak,
    * and no repartition needed). */
  private def extracted(s: SparkSession, dir: String): DataFrame =
    withElementJson(Tables.events(s, dir))
      .select(
        col("event_id"),
        fallback("stax").as("stax"),
        fallback("sid").as("sid"),
        fallback("syncid").as("syncid"),
        col("e.api_type").as("api_type"))

  /** T3 (valid branch) — field extraction with nested fallback +
    * validation (`InvoiceRequestTransformer.java:55-110`). Output is the
    * rows passing all three required-field checks; `syncid_src` records
    * whether syncid came from the packet or would be defaulted
    * (`UUID.randomUUID()` at `:88` — the uuid itself is nondeterministic
    * so only its provenance is projected, per SURVEY §5.5). */
  def validate(s: SparkSession, dir: String): DataFrame =
    extracted(s, dir)
      .filter(isValid(col("stax"), col("sid"), col("api_type")))
      .select(
        col("event_id"),
        col("stax"),
        col("sid"),
        when(col("syncid").isNotNull, lit("packet")).otherwise(lit("generated")).as("syncid_src"),
        col("api_type"))
      .transform(Common.presented(_, col("event_id")))

  /** T3 (reject branch) — the element-level rejection taxonomy
    * ([[rejectReason]]) routed to the retry queue. */
  def rejects(s: SparkSession, dir: String): DataFrame =
    Common.presented(rejectsCore(s, dir), col("event_id"))

  /** [[rejects]] without the presentation sort — for composition into
    * downstream operators (K2) that re-sort anyway: an inner `orderBy`
    * survives as a redundant range Exchange + Sort under a Union. */
  def rejectsCore(s: SparkSession, dir: String): DataFrame =
    extracted(s, dir)
      .withColumn("error_message",
        rejectReason(col("stax"), col("sid"), col("api_type")))
      .filter(col("error_message").isNotNull)
      .select(col("event_id"), col("error_message"))

  /** T4 — derived columns: [[groupId]] from the packet position.
    * (`created_date = now()` is applied at sink time and is excluded
    * from oracle-compared output.) */
  def derive(s: SparkSession, dir: String): DataFrame =
    explode(s, dir)
      .withColumn("group_id", groupId(col("pos")))
      .select(col("user_id"), col("pos"), col("event_id"), col("group_id"))
      .transform(Common.presented(_, col("user_id"), col("pos")))

  /** T5 — retry re-transform with exponential backoff and max-retry
    * cutoff (`InvoiceRequestTransformer.java:113-136`). Three-way routing:
    * retry_count > max → MAX_RETRY (dead-letter); success → DELETE the
    * claimed row; failure → UPDATE with an incremented count and
    * `next_retry_secs = base · 2^(n+1)` — the reference increments
    * `retry_count` BEFORE applying `Math.pow(2, retry_count)`
    * (`:128-133`), so a record failing at stored count n waits
    * base·2^(n+1) (20/40/80/160 s for n = 0..3 at the 10 s base).
    * retry_count/success are derived deterministically from event
    * columns. */
  def retryBackoff(s: SparkSession, dir: String): DataFrame =
    Common.presented(retryBackoffCore(s, dir), col("event_id"))

  /** [[retryBackoff]] without the presentation sort (see
    * [[rejectsCore]]). */
  def retryBackoffCore(s: SparkSession, dir: String): DataFrame = {
    import graft.model.InvoiceModel.{MaxRetries, RetryBaseSeconds}
    val ev = Tables.events(s, dir)
      .withColumn("retry_count", (col("event_id") % 5).cast("tinyint"))
      .withColumn("succeeds", col("user_id") % 2 === 0)
    ev.select(
        col("event_id"),
        col("retry_count"),
        when(col("retry_count") > MaxRetries, lit("MAX_RETRY"))
          .when(col("succeeds"), lit("DELETE"))
          .otherwise(lit("UPDATE")).as("tag"),
        when(!col("succeeds") && col("retry_count") <= MaxRetries,
          (lit(RetryBaseSeconds) * pow(lit(2.0), col("retry_count") + 1)).cast("long"))
          .as("next_retry_secs"),
        when(!col("succeeds") && col("retry_count") <= MaxRetries,
          (col("retry_count") + 1).cast("tinyint"))
          .as("new_retry_count"))
  }

  /** Registry — driver contract (SparkEntry). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t2_explode" -> (explode _),
    "t3_validate" -> (validate _),
    "t3_rejects" -> (rejects _),
    "t4_derive" -> (derive _),
    "t5_retry_backoff" -> (retryBackoff _))

  /** DuckDB oracles. The element JSON in [[withElementJson]] is built
    * Spark-side from deterministic event-column arithmetic, so the oracle
    * states the *post-extraction* values directly from the same
    * arithmetic — a stronger check than re-parsing JSON on both sides
    * (any Spark-side JSON bug shows up as a value mismatch). */
  val oracles: Map[String, String] = Map(
    "t2_explode" ->
      """SELECT user_id,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS pos,
        |       event_id, props
        |FROM events ORDER BY user_id, pos""".stripMargin,
    "t3_validate" ->
      """SELECT event_id,
        |       'T' || CAST(user_id AS VARCHAR) AS stax,
        |       'S' || CAST(event_id AS VARCHAR) AS sid,
        |       CASE WHEN event_id % 2 = 0 THEN 'packet' ELSE 'generated' END AS syncid_src,
        |       CAST(10 + event_id % 7 AS INT) AS api_type
        |FROM events
        |WHERE user_id % 3 <= 1 AND event_id % 3 <= 1 AND event_id % 7 <> 6
        |ORDER BY event_id""".stripMargin,
    "t3_rejects" ->
      """SELECT event_id,
        |       CASE WHEN user_id % 3 = 2 THEN 'stax is null'
        |            WHEN event_id % 3 = 2 THEN 'sid is null'
        |            ELSE 'api_type is null' END AS error_message
        |FROM events
        |WHERE user_id % 3 = 2 OR event_id % 3 = 2 OR event_id % 7 = 6
        |ORDER BY event_id""".stripMargin,
    "t4_derive" ->
      """SELECT user_id, pos, event_id, CAST(pos % 5 AS TINYINT) AS group_id
        |FROM (SELECT user_id,
        |             CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS pos,
        |             event_id
        |      FROM events)
        |ORDER BY user_id, pos""".stripMargin,
    "t5_retry_backoff" ->
      """SELECT event_id,
        |       CAST(event_id % 5 AS TINYINT) AS retry_count,
        |       CASE WHEN event_id % 5 > 3 THEN 'MAX_RETRY'
        |            WHEN user_id % 2 = 0 THEN 'DELETE'
        |            ELSE 'UPDATE' END AS tag,
        |       CASE WHEN user_id % 2 <> 0 AND event_id % 5 <= 3
        |            THEN CAST(10 * power(2, event_id % 5 + 1) AS BIGINT) END AS next_retry_secs,
        |       CAST(CASE WHEN user_id % 2 <> 0 AND event_id % 5 <= 3
        |            THEN event_id % 5 + 1 END AS TINYINT) AS new_retry_count
        |FROM events ORDER BY event_id""".stripMargin)
}
