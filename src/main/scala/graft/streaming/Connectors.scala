package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Streaming/external bindings for the harness's logical pipelines.
  *
  * The reference wires Kafka sources/sinks and JDBC polling by hand
  * (`/root/reference/src/main/java/com/thaihoc/util/FlinkJobUtils.java:28-87`,
  * `source/AsyncInvInSource.java:11-117`). In Spark the same bindings are
  * configuration, not code: the logical DataFrame programs in
  * `graft.operators` are source-agnostic, and this object binds them to
  * real Kafka (value-string contract, S1/K4) or micro-batch JDBC when
  * deployed. The harness environment is zero-egress, so these are
  * compile-checked and unit-tested only at the contract level — the
  * operators themselves are verified over parquet stand-ins.
  */
object Connectors {

  /** The reference's full `application.properties` surface
    * (`/root/reference/src/main/resources/application.properties`,
    * consumed at `util/FlinkJobUtils.java:28-87`), parsed into the
    * option maps Spark's Kafka/JDBC connectors take. SAME property
    * names, so an operator of the reference deploys this library with
    * their existing config file:
    *
    *   - `kafka.bootstrap.servers`, `kafka.sasl.username/password` →
    *     `kafka.*` options incl. the PlainLoginModule JAAS line the
    *     reference builds (`FlinkJobUtils.java:37-43`);
    *   - `kafka.starting.offsets` EARLIEST/LATEST/COMMITTED_OFFSETS →
    *     Spark `startingOffsets` (COMMITTED_OFFSETS maps to "resume
    *     from checkpoint": Spark tracks offsets in the query
    *     checkpoint, its committed-offset analogue — on a fresh start
    *     it falls back to latest, matching the reference's default);
    *   - the 5×2 `kafka.topic.*` request/response topics, kept as
    *     suffix-keyed maps (one multi-topic subscription replaces the
    *     reference's 5 separate sources);
    *   - `mysql.*` JDBC url/credentials plus the batch/poll sizing the
    *     jobs use (`batch.size`, `polling.interval.ms`, `fetch.size`,
    *     `max.retries`);
    *   - `app.*` retry policy / `group.id.max.value` (T4's pmod
    *     domain).
    */
  final case class PipelineConf(
      bootstrapServers: String,
      saslUsername: Option[String],
      saslPassword: Option[String],
      startingOffsets: String, // "earliest" | "latest" | "" (checkpoint)
      requestTopics: Map[String, String],  // crt/upd/del/rep/adj → topic
      responseTopics: Map[String, String],
      groupIds: Map[String, String],
      jdbcUrl: String,
      jdbcUser: String,
      jdbcPassword: String,
      jdbcTable: String,
      jdbcBatchSize: Int,
      jdbcBatchIntervalMs: Long,
      jdbcMaxRetries: Int,
      jdbcPollIntervalMs: Long,
      jdbcFetchSize: Int,
      groupIdMaxValue: Int,
      appMaxRetries: Int,
      appRetryIntervalMs: Long) {

    /** The `kafka.`-prefixed option map for `readStream`/`writeStream`
      * — SASL_PLAINTEXT + PLAIN JAAS exactly as the reference wires
      * its consumers/producers (`FlinkJobUtils.java:37-43,70-77`). */
    def kafkaOptions: Map[String, String] = {
      val base = Map("kafka.bootstrap.servers" -> bootstrapServers)
      val sasl = for (u <- saslUsername; p <- saslPassword) yield Map(
        "kafka.security.protocol" -> "SASL_PLAINTEXT",
        "kafka.sasl.mechanism" -> "PLAIN",
        "kafka.sasl.jaas.config" ->
          ("org.apache.kafka.common.security.plain.PlainLoginModule required " +
            s"""username="$u" password="$p";"""))
      base ++ sasl.getOrElse(Map.empty) ++
        (if (startingOffsets.nonEmpty) Map("startingOffsets" -> startingOffsets)
         else Map.empty)
    }
  }

  object PipelineConf {
    private val Ops = Seq("crt", "upd", "del", "rep", "adj")

    /** Parse the reference's property names. Required keys throw with
      * the key name (the `params.getRequired` contract of
      * `FlinkJobUtils.java:29-34`); sized options fall back to the
      * reference's documented defaults. */
    def fromProperties(p: java.util.Properties): PipelineConf = {
      def req(k: String): String = {
        val v = p.getProperty(k)
        require(v != null && v.nonEmpty, s"missing required property: $k")
        v
      }
      def opt(k: String): Option[String] = Option(p.getProperty(k)).filter(_.nonEmpty)
      // Locale.ROOT: under e.g. tr-TR, "earliest".toUpperCase is
      // "EARLİEST" (dotted İ) and a valid config would be rejected
      val offsets = opt("kafka.starting.offsets")
        .map(_.toUpperCase(java.util.Locale.ROOT))
        .getOrElse("LATEST") match {
        case "EARLIEST" => "earliest"
        case "LATEST" => "latest"
        case "COMMITTED_OFFSETS" => "" // checkpoint-held offsets
        case other => throw new IllegalArgumentException(
          s"unsupported kafka.starting.offsets: $other")
      }
      PipelineConf(
        bootstrapServers = req("kafka.bootstrap.servers"),
        saslUsername = opt("kafka.sasl.username"),
        saslPassword = opt("kafka.sasl.password"),
        startingOffsets = offsets,
        requestTopics = Ops.flatMap(o =>
          opt(s"kafka.topic.$o.request").map(o -> _)).toMap,
        responseTopics = Ops.flatMap(o =>
          opt(s"kafka.topic.$o.response").map(o -> _)).toMap,
        groupIds = Ops.flatMap(o =>
          opt(s"kafka.group.id.$o.request").map(o -> _)).toMap,
        jdbcUrl = req("mysql.jdbc.url"),
        jdbcUser = req("mysql.username"),
        jdbcPassword = req("mysql.password"),
        jdbcTable = opt("mysql.table.name").getOrElse("async_inv_in"),
        jdbcBatchSize = opt("mysql.batch.size").map(_.toInt).getOrElse(2000),
        jdbcBatchIntervalMs =
          opt("mysql.batch.interval.ms").map(_.toLong).getOrElse(5000L),
        jdbcMaxRetries = opt("mysql.max.retries").map(_.toInt).getOrElse(3),
        jdbcPollIntervalMs =
          opt("mysql.polling.interval.ms").map(_.toLong).getOrElse(500L),
        jdbcFetchSize = opt("mysql.fetch.size").map(_.toInt).getOrElse(2000),
        groupIdMaxValue =
          opt("group.id.max.value").map(_.toInt).getOrElse(4),
        appMaxRetries = opt("app.max.retries").map(_.toInt).getOrElse(3),
        appRetryIntervalMs =
          opt("app.retry.interval.ms").map(_.toLong).getOrElse(10000L))
    }
  }

  /** S1 — Kafka value-as-string source over the request topics
    * (`util/FlinkJobUtils.java:28-62`), bound from a parsed
    * [[PipelineConf]]: SASL and starting offsets (the reference's
    * EARLIEST/LATEST/COMMITTED modes) applied. One subscription covers
    * all 5 request topics; `topic` survives as a column (the Spark-side
    * improvement over 5 separate sources, SURVEY §2.1 S1). */
  def kafkaRequestSource(spark: SparkSession, conf: PipelineConf): DataFrame = {
    // topics parse as optional (a response-only deployment omits them),
    // but SUBSCRIBING to none is always a config error — fail with the
    // missing key name, not a downstream connector error on subscribe=""
    require(conf.requestTopics.nonEmpty,
      "missing required property: kafka.topic.<op>.request (no request topics configured)")
    conf.kafkaOptions.foldLeft(
        spark.readStream.format("kafka")
          .option("subscribe", conf.requestTopics.values.mkString(","))) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()
      .select(col("value").cast("string").as("value"), col("topic"))
  }

  /** K4 — Kafka sink with per-row topic routing: ONE sink with a `topic`
    * column replaces the reference's 5 hand-wired producers
    * (`util/FlinkJobUtils.java:64-87`, wired
    * `job/InvoiceResponse.java:124-143`); at-least-once comes from
    * checkpointing, matching `DeliveryGuarantee.AT_LEAST_ONCE` (`:85`). */
  def kafkaRoutedSink(packets: DataFrame, bootstrap: String,
      checkpointDir: String): DataStreamWriter[Row] =
    packets
      .select(col("topic"), col("value").cast("string").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("checkpointLocation", checkpointDir)

  /** S2/S3 — one incremental poll of a JDBC staging table: the pushed
    * predicate + watermark + limit shape of `AsyncInvInSource.java:55`.
    * The caller advances `lastId` with the max id seen (`:83-94`) —
    * driver-held offset state, exactly like the reference's
    * `lastProcessedId`. Predicate/limit push down to the remote server. */
  def jdbcIncrementalPoll(spark: SparkSession, url: String, table: String,
      props: java.util.Properties, predicate: String, lastId: Long,
      fetch: Int): DataFrame =
    spark.read.jdbc(url, table, props)
      .filter(expr(predicate) && col("id") > lastId)
      .orderBy(col("id"))
      .limit(fetch)

  /** K1 — batched JDBC append (`job/InvoiceRequest.java:111-157`): Spark
    * JDBC writer batches inserts (`batchsize`, default 1000; the
    * reference used 2000/5000 ms). Called per micro-batch from
    * `foreachBatch`. */
  def jdbcBatchAppend(df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 2000): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)
}
