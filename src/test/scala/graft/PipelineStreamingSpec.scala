package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.InvoiceModel
import graft.operators.RequestOps
import graft.sources.Tables
import graft.streaming.{RequestPipeline, ResponsePipeline}
import graft.streaming.MicroBatcher.Rec

/** SURVEY §3.1/§3.2 — the two reference job topologies end-to-end in
  * Structured Streaming: packet stream → transform → foreachBatch
  * dual-write (request), record stream → stateful batcher → routed
  * packets (response). */
class PipelineStreamingSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def pk(elems: String*) =
    s"""{"inv_pack":[${elems.mkString(",")}]}"""

  test("request pipeline: packets explode, validate, and dual-write K1/K2") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val out = tmp("req_out")
    val q = RequestPipeline.run(in.toDF(), out, tmp("req_ck"))
    try {
      in.addData(
        // 3 valid elements across the fallback shapes + 2 rejects
        pk(
          """{"sid":"S1","stax":"T1","syncid":"Y1","api_type":10}""",
          """{"inv":{"sid":"S2","stax":"T2"},"api_type":11}""",
          """{"sid":"S3","inv":{"stax":"T3"},"syncid":"Y3","api_type":12}""",
          """{"sid":"S4","api_type":13}""",
          """{"stax":"T5","inv":{"stax":"T5"}}"""),
        pk("""{"sid":"S6","stax":"T6","syncid":"Y6","api_type":14}"""))
      q.processAllAvailable()
      val staged = spark.read.parquet(s"$out/async_inv_in")
      val retry = spark.read.parquet(s"$out/invoice_retry")
      assert(staged.count() === 4)
      assert(retry.count() === 2)
      // nested fallback populated sid/stax (tax_schema = extracted stax,
      // job/InvoiceRequest.java:121/63); missing syncid got a uuid
      val s2 = staged.filter(col("sid") === "S2").head()
      assert(s2.getAs[String]("tax_schema") === "T2")
      assert(s2.getAs[String]("syncid").length === 36)
      // full 18-column K1 binding
      assert(staged.columns.length === 18)
      // group_id follows the element index within its packet
      assert(staged.filter(col("sid") === "S3" && col("group_id") === 2).count() === 1)
      assert(staged.filter(col("sid") === "S6" && col("group_id") === 0).count() === 1)
      // reject taxonomy: no stax → "stax is null" wins; no sid next
      assert(retry.filter(col("error_message") === "stax is null").count() === 1)
      assert(retry.filter(col("error_message") === "sid is null").count() === 1)
      assert(retry.filter(col("state") =!= "PENDING" ||
        col("retry_count") =!= 0).count() === 0)
    } finally q.stop()
  }

  test("request pipeline == t3: one-element fixture packets stage and reject exactly as t3_validate / t3_rejects") {
    // every fixture element, as RequestOps builds it for the oracle-
    // checked queries, sent through the streaming transform on its own
    val packets = RequestOps.withElementJson(Tables.events(spark, Sf))
      .select(concat(lit("""{"inv_pack":["""), col("j"), lit("]}")).as("value"))
    val out = RequestPipeline.transform(packets)
    def reasonCounts(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("error_message").isNotNull).groupBy("error_message").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = reasonCounts(RequestOps.rejects(spark, Sf))
    assert(expected.keySet === Set("stax is null", "sid is null", "api_type is null"),
      "the fixture no longer exercises every reject reason")
    assert(reasonCounts(out) === expected)
    val staged = out.filter(col("error_message").isNull)
      .select(col("stax"), col("sid"), col("api_type").cast("int"))
    val valid = RequestOps.validate(spark, Sf).select("stax", "sid", "api_type")
    assert(valid.count() > 0)
    assert(staged.count() === valid.count())
    assert(staged.exceptAll(valid).isEmpty && valid.exceptAll(staged).isEmpty,
      "staged (stax, sid, api_type) rows differ from t3_validate's")
  }

  test("request pipeline: a written async_inv_in has the declared staging schema minus id") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val out = tmp("k1_schema_out")
    val q = RequestPipeline.run(in.toDF(), out, tmp("k1_schema_ck"))
    try {
      in.addData(pk("""{"sid":"S1","stax":"T1","api_type":10}"""))
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.parquet(s"$out/async_inv_in").schema
      .map(f => f.name -> f.dataType)
    val declared = InvoiceModel.asyncInvInSchema.filter(_.name != "id")
      .map(f => f.name -> f.dataType)
    assert(written === declared)
  }

  test("S2 incremental poll: advancing the id watermark never re-reads a row") {
    // the driver-held offset loop of AsyncInvInSource.java:83-94, over
    // the parquet stand-in: poll → advance lastId to max(id) seen → poll
    import graft.sources.Tables
    val base = Tables.events(spark, Sf)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("id"))
    def poll(lastId: Long, fetch: Int) =
      base.filter(col("id") > lastId).orderBy(col("id")).limit(fetch)
        .collect().map(_.getLong(0))
    var wm = -1L
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var n = 0
    while (n < 5 && { val batch = poll(wm, 7); seen ++= batch
        if (batch.nonEmpty) wm = batch.max; batch.nonEmpty }) n += 1
    assert(seen.size === seen.distinct.size) // no row delivered twice
    assert(seen.toSeq === seen.toSeq.sorted) // id-ordered delivery
    assert(seen.size === math.min(5 * 7, base.count()))
  }

  test("G3 streaming dedup: duplicates across micro-batches are dropped") {
    // the reference's idempotence guard keeps an unbounded per-key set
    // (InvoiceResponseBatchProcessor.java:110-121 — a leak); Spark's
    // dropDuplicates is the managed-state equivalent (bound it with
    // dropDuplicatesWithinWatermark when an event-time column exists)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "kind")
      .dropDuplicates("id", "kind")
      .writeStream.format("memory")
      .queryName("dedup_out_" + System.nanoTime())
      .outputMode("append")
      .start()
    try {
      in.addData((1L, "InvIn"), (2L, "InvIn"), (1L, "InvIn"), (1L, "InvOut"))
      q.processAllAvailable() // safe: dedup state has no timers
      in.addData((1L, "InvIn"), (3L, "InvOut"), (2L, "InvIn"))
      q.processAllAvailable()
      val out = spark.table(q.name).as[(Long, String)].collect().toSet
      assert(out === Set((1L, "InvIn"), (2L, "InvIn"), (1L, "InvOut"), (3L, "InvOut")))
    } finally q.stop()
  }

  test("G3 bounded dedup: dropDuplicatesWithinWatermark evicts state past the watermark") {
    // the SURVEY §2.5 G3 improvement over the reference's unbounded
    // seen-set: dedup state is evicted once the event-time watermark
    // passes, so state stays bounded on an infinite stream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = in.toDF().toDF("id", "ts")
      .withWatermark("ts", "5 seconds")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory")
      .queryName("wdedup_out_" + System.nanoTime())
      .outputMode("append")
      .start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      in.addData((1L, ts(10)), (1L, ts(11)), (2L, ts(12)))
      q.processAllAvailable()
      // watermark advances past 12-5=7; id 1 within-watermark dup dropped
      in.addData((1L, ts(13)), (3L, ts(40)))
      q.processAllAvailable()
      // watermark now ~35; id 1's state is evicted → a late id-1 row
      // re-emits (bounded state trades exactly-once for boundedness)
      in.addData((1L, ts(41)))
      q.processAllAvailable()
      val out = spark.table(q.name).select("id").as[Long].collect().toSeq
      assert(out.count(_ == 1L) === 2) // once early, once after eviction
      assert(out.count(_ == 2L) === 1)
      assert(out.count(_ == 3L) === 1)
    } finally q.stop()
  }

  test("response pipeline: batches flush to routed kafka packets") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Rec]
    val out = tmp("resp_out")
    val q = ResponsePipeline.run(in.toDS(), out, tmp("resp_ck"),
      batchSize = 3, timeoutMs = 600000L)
    try {
      in.addData(
        (0 until 6).map(i => Rec(10, s"K10_$i", s"p$i")) ++
          (0 until 3).map(i => Rec(12, s"K12_$i", s"q$i")))
      // deadline-poll the sink: processAllAvailable can spin when
      // ProcessingTimeTimeout keeps scheduling timer-only batches
      val deadline = System.currentTimeMillis() + 30000
      def read() =
        try spark.read.parquet(s"$out/kafka_out")
        catch { case _: Throwable => spark.emptyDataFrame }
      while (System.currentTimeMillis() < deadline &&
        (read().isEmpty || read().count() < 3)) Thread.sleep(200)
      val kafka = spark.read.parquet(s"$out/kafka_out")
      // 2 full batches for api_type 10 → crt topic; 1 for 12 → del topic
      assert(kafka.filter(col("topic") === "mtt.crt.response").count() === 2)
      assert(kafka.filter(col("topic") === "mtt.del.response").count() === 1)
      assert(kafka.filter(col("size") =!= 3).count() === 0)
      // packet value is the reference's {"inv_pack_res":[...]} shape
      val v = kafka.filter(col("topic") === "mtt.del.response")
        .head().getAs[String]("value")
      assert(v.startsWith("""{"inv_pack_res":["""))
      assert(v.contains("q0") && v.contains("q2"))
    } finally q.stop()
  }

  test("the two jobs CHAINED through the staging layer: packets → staged → batched → routed") {
    // the reference composition a user actually runs: job 1 stages
    // validated invoices (MySQL in the reference, parquet here), job 2
    // polls that same staging table and fans batched packets out — here
    // job 2 reads the staging dir as a file-source STREAM, so the
    // hand-off is the at-rest layer itself, not an in-memory shortcut
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmp("chain_out")
    val in = MemoryStream[String]
    val q1 = RequestPipeline.run(in.toDF(), dir, tmp("chain_ck1"))
    val crt = (0 until 8).map(i =>
      s"""{"sid":"C$i","stax":"T$i","syncid":"SYNC_CRT_$i","api_type":10}""")
    val del = (0 until 4).map(i =>
      s"""{"sid":"D$i","stax":"U$i","syncid":"SYNC_DEL_$i","api_type":12}""")
    val reject = """{"stax":"TX","api_type":10}""" // no sid anywhere → K2
    try {
      in.addData(pk(crt(0), crt(1), crt(2), reject), pk(crt.drop(3): _*))
      in.addData(pk(del: _*))
      q1.processAllAvailable()
    } finally q1.stop()
    val staged = spark.read.parquet(s"$dir/async_inv_in")
    assert(staged.count() === 12)
    assert(spark.read.parquet(s"$dir/invoice_retry").count() === 1)
    // job 2: G1's (key, payload) binding over the staged columns
    val recs = spark.readStream.schema(staged.schema)
      .parquet(s"$dir/async_inv_in")
      .select(col("api_type").cast("int").as("apiType"),
        col("syncid").as("recordKey"), col("inv").as("payload"))
      .as[Rec]
    val q2 = ResponsePipeline.run(recs, dir, tmp("chain_ck2"),
      batchSize = 4, timeoutMs = 600000L)
    try {
      val deadline = System.currentTimeMillis() + 30000
      def read() =
        try spark.read.parquet(s"$dir/kafka_out")
        catch { case _: Throwable => spark.emptyDataFrame }
      while (System.currentTimeMillis() < deadline &&
        (read().isEmpty || read().count() < 3)) Thread.sleep(200)
      val kafka = spark.read.parquet(s"$dir/kafka_out")
      assert(kafka.filter(col("topic") === "mtt.crt.response").count() === 2)
      assert(kafka.filter(col("topic") === "mtt.del.response").count() === 1)
      assert(kafka.filter(col("size") =!= 4).count() === 0)
      // conservation: every staged invoice reaches EXACTLY one packet
      // on its api_type's topic, and the reject never does
      val values = kafka.collect()
        .map(r => (r.getAs[String]("topic"), r.getAs[String]("value")))
      (0 until 8).foreach { i =>
        val hits = values.filter(_._2.contains(s"SYNC_CRT_$i"))
        assert(hits.length === 1 && hits.head._1 === "mtt.crt.response",
          s"SYNC_CRT_$i appeared ${hits.length}× in ${hits.map(_._1).toSeq}")
      }
      (0 until 4).foreach { i =>
        val hits = values.filter(_._2.contains(s"SYNC_DEL_$i"))
        assert(hits.length === 1 && hits.head._1 === "mtt.del.response",
          s"SYNC_DEL_$i appeared ${hits.length}×")
      }
      assert(!values.exists(_._2.contains(""""stax":"TX"""")),
        "a rejected element leaked into the response fan-out")
    } finally q2.stop()
  }
}
