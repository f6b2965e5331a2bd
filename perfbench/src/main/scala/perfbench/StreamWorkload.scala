package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming.{RequestPipeline, ResponsePipeline}
import graft.streaming.MicroBatcher.Rec

/** The `invoice_stream` workload: the paper's two streaming jobs,
  * `RequestPipeline.run` and `ResponsePipeline.run`, fed by a seeded
  * generator through in-memory sources and timed from outside.
  *
  * Each job gets a burst part (a fixed backlog; throughput) and an
  * open-loop part (a fixed rate from one generator thread that keeps its
  * schedule when the system stalls; latency from each input's due time).
  * The request job is stateless and write-heavy; the response job is
  * stateful and timer-driven, with the reference configuration of 100
  * records or 3000 ms per packet. */
object StreamWorkload {
  val BatchSize = 100
  val TimeoutMs = 3000L
  val TriggerMs = 500L
  /** Open-loop rates, and burst sizes in request packets and response
    * packets. */
  val PacketsPerS = 100.0
  val RecordsPerS = 200.0
  val BurstPackets = 1000
  val BurstRespPackets = 200
  val Bursts = 4
  val Topics: Map[Int, String] = Map(10 -> "mtt.crt.response",
    11 -> "mtt.upd.response", 12 -> "mtt.del.response",
    13 -> "mtt.rep.response", 14 -> "mtt.adj.response")

  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def commitMs(p: StreamingQueryProgress): Double = startMs(p) + p.batchDuration
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Both jobs over fresh in-memory sources and a fresh output and
    * checkpoint directory. */
  final class Pipes(ctx: Ctx, tag: String) {
    private val spark = ctx.spark
    import spark.implicits._
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = new File(ctx.work, s"stream-$tag")
    val out: String = new File(dir, "out").getPath
    // one source partition per core, like a topic with that many
    // partitions; without it every send would become a task of its own
    val packets: MemoryStream[String] = MemoryStream[String](ctx.spark.sparkContext.defaultParallelism)
    val records: MemoryStream[Rec] = MemoryStream[Rec](ctx.spark.sparkContext.defaultParallelism)
    val req: StreamingQuery = RequestPipeline.run(packets.toDF(), out,
      new File(dir, "ck-req").getPath)
    val resp: StreamingQuery = ResponsePipeline.run(records.toDS(), out,
      new File(dir, "ck-resp").getPath, BatchSize, TimeoutMs)

    def send(add: => org.apache.spark.sql.connector.read.streaming.Offset): Long =
      add.json().trim.toLong

    /** The progress of the first batch whose end offset covers `off`. */
    def awaitOffset(q: StreamingQuery, off: Long, timeoutMs: Long = 120000): StreamingQueryProgress = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def covering = q.recentProgress.sortBy(_.batchId).find(endOffset(_) >= off)
      var found = covering
      while (found.isEmpty) {
        q.exception.foreach(e => throw e)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"${q.name}: offset $off not committed in time")
        Thread.sleep(2)
        found = if (Option(q.lastProgress).exists(endOffset(_) >= off)) covering else None
      }
      found.get
    }

    /** Waits for a response batch that started at or after `t` to finish. */
    def awaitBatchAfter(t: Double, timeoutMs: Long = 120000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!Option(resp.lastProgress).exists(startMs(_) >= t)) {
        resp.exception.foreach(e => throw e)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException("response job made no progress")
        Thread.sleep(5)
      }
    }

    def stop(): Unit = {
      req.stop(); resp.stop()
      ctx.recorder.foreach { r =>
        r.awaitTerminated(req.runId.toString); r.awaitTerminated(resp.runId.toString)
      }
    }
  }

  /** Sends inputs on a fixed schedule (ms after the start, ascending)
    * from one generator thread. A late send goes out at once and the
    * schedule does not shift. Returns the due times (epoch ms) and the
    * maximum lateness in ms. */
  def openLoop(schedule: Array[Double])(send: Int => Unit): (Array[Double], Double) = {
    val due = schedule.clone()
    var late = 0.0
    val t = new Thread(() => {
      val t0 = Trace.nowMs() + 20
      for (i <- due.indices) {
        due(i) += t0
        val wait = due(i) - Trace.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        late = math.max(late, Trace.nowMs() - due(i))
        send(i)
      }
    }, "perfbench-generator")
    t.start(); t.join()
    (due, late)
  }

  /** A burst sent at `t0` and taken by the batch `p`. Its drain time runs
    * from the later of the send and the batch start: the response job
    * runs a timer batch on every trigger tick, so a burst would otherwise
    * wait a random 0 to 1 s for the batch in flight and the next tick. */
  final case class Burst(n: Long, t0: Double, p: StreamingQueryProgress) {
    def seconds: Double = (commitMs(p) - math.max(t0, startMs(p))) / 1000
    def perS: Double = n / seconds
  }

  def run(ctx: Ctx): Unit = {
    val gen = new InvoiceGen(ctx.seed)
    var tag = 0
    def pipes(): Pipes = { tag += 1; new Pipes(ctx, tag.toString) }

    // set-up: session, both jobs started, one input through each
    val setupGen = new InvoiceGen(ctx.seed ^ 0x5eed)
    ctx.put("setup_s", ctx.setup(3) {
      ctx.newSession()
      val p = pipes()
      p.awaitOffset(p.req, p.send(p.packets.addData(Seq(setupGen.packet()._1))))
      p.awaitOffset(p.resp, p.send(p.records.addData(Seq(setupGen.record()))))
      p.stop()
    }, "s")

    val p = pipes()
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()

    def ingestBurst(q: Pipes = p, g: InvoiceGen = gen): Burst = {
      val pk = Seq.fill(BurstPackets)(g.packet())
      val t0 = Trace.nowMs()
      val off = q.send(q.packets.addData(pk.map(_._1)))
      Burst(pk.map(_._2.toLong).sum, t0, q.awaitOffset(q.req, off))
    }
    def respondBurst(): Burst = {
      val recs = gen.burst(BurstRespPackets, BatchSize)
      val t0 = Trace.nowMs()
      val off = p.send(p.records.addData(recs))
      Burst(recs.count(r => gen.Domain.contains(r.apiType)).toLong, t0,
        p.awaitOffset(p.resp, off))
    }

    ctx.mark("set-up done")
    // warm-up: one request burst, untimed (set-up already ran both jobs)
    ingestBurst()

    // bursts through each job on its own
    val ingest = Seq.fill(Bursts)(ingestBurst())
    val respond = Seq.fill(Bursts)(respondBurst())
    ctx.mark("bursts done")

    // open loops: the request job, then the response job and its timers
    val reqPk = Seq.fill((PacketsPerS * ctx.seconds * 0.6).toInt)(gen.packet())
    val reqOff = new Array[Long](reqPk.size)
    val (reqDue, lateReq) = openLoop(Array.tabulate(reqPk.size)(_ * 1000.0 / PacketsPerS)) { i =>
      reqOff(i) = p.send(p.packets.addData(Seq(reqPk(i)._1)))
    }
    p.awaitOffset(p.req, reqOff.last)
    val recs = Seq.fill((RecordsPerS * ctx.seconds * 0.15).toInt)(gen.record())
    val (recDue, lateRec) = openLoop(Array.tabulate(recs.size)(_ * 1000.0 / RecordsPerS)) { i =>
      p.send(p.records.addData(Seq(recs(i))))
    }
    val lateMax = math.max(lateReq, lateRec)
    // the last buffer's timer fires at most one trigger after its first
    // record is batched plus the timeout
    p.awaitBatchAfter(recDue.last + TimeoutMs + 3 * TriggerMs)
    ctx.mark("open loops done")

    val tracedExtra = ctx.recorder.map { r =>
      // tracing overhead and the single-threaded baseline, on ingest bursts
      val traced = Seq.fill(2)(ingestBurst().perS)
      ctx.detachRecorder()
      val untraced = Seq.fill(2)(ingestBurst().perS)
      ctx.attach(r)
      (Stats.median(untraced) / Stats.median(traced) - 1, Stats.median(untraced))
    }
    p.stop()
    val reqProg = p.req.recentProgress.toSeq
    val respProg = p.resp.recentProgress.toSeq
    ctx.mark("streams stopped")

    // latency in the loop's steady state: packets due after its first second
    val byBatch = reqProg.sortBy(_.batchId)
    val ingestLat = reqPk.indices.drop(PacketsPerS.toInt).map { i =>
      byBatch.find(endOffset(_) >= reqOff(i)).map(commitMs).getOrElse(Double.NaN) - reqDue(i)
    }
    ctx.put("latency_ms", Stats.gmean(ingestLat), "ms")
    // totals over all bursts: windows of seconds rather than one burst's
    ctx.put("throughput_per_s", ingest.map(_.n).sum / ingest.map(_.seconds).sum, "1/s")
    ctx.put("backlog_s", (ingest ++ respond).map(_.seconds).sum, "s")

    // micro-batches are operations too: a failed one stops its query
    (reqProg ++ respProg).foreach(_ => ctx.op(None))
    Seq(p.req, p.resp).foreach(q => q.exception.foreach(e => ctx.op(Some(s"${q.name}: $e"))))

    ctx.spark.sparkContext.setJobGroup("pb|check", "output checks", interruptOnCancel = false)
    val emitted = ctx.trace.span("check", ctx.root)(_ => check(ctx, gen, p.out))
    ctx.spark.sparkContext.clearJobGroup()
    ctx.mark("checks done")
    if (ctx.traced) {
      ctx.put("spark.gc_s", (Jvm.gcMs - gc0) / 1000.0, "s")
      ctx.put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
      val dueOf = mutable.HashMap.empty[String, Double]
      recs.indices.foreach(i => dueOf(recs(i).recordKey) = recDue(i))
      ctx.put("streaming.ingest.lat_p50_ms", Stats.median(ingestLat), "ms")
      ctx.put("streaming.ingest.lat_p90_ms", Stats.quantile(ingestLat, 0.9), "ms")
      layers(ctx, reqProg, respProg, emitted, dueOf, respond, lateMax,
        tracedExtra)
      // the single-threaded baseline: the same bursts on local[1], untraced
      ctx.newSession(1)
      ctx.detachRecorder()
      val q = pipes()
      ingestBurst(q, setupGen)
      val single = Stats.median(Seq.fill(2)(ingestBurst(q, setupGen).perS))
      q.stop()
      tracedExtra.foreach { case (_, multi) =>
        ctx.put("streaming.single_thread_ratio", multi / single, "ratio")
      }
    }
  }

  /** One emitted response packet, with the time its batch committed. */
  final case class Emitted(topic: String, apiType: Int, size: Int,
      reason: String, items: Seq[String], fileMs: Double)

  /** The output checks. Each is one operation; a mismatch is a failure. */
  private def check(ctx: Ctx, gen: InvoiceGen, out: String): Seq[Emitted] = {
    val spark = ctx.spark
    import spark.implicits._
    def fail(cond: Boolean, what: => String): Unit = ctx.op(if (cond) None else Some(what))

    val staged = spark.read.parquet(s"$out/async_inv_in").select("sid")
      .as[String].collect()
    fail(staged.length == gen.stagedSids.size,
      s"staged ${staged.length} rows, expected ${gen.stagedSids.size}")
    fail(staged.toSet == gen.stagedSids.toSet, "staged sids differ from the generated valid elements")
    val retries = spark.read.parquet(s"$out/invoice_retry")
      .groupBy("error_message").count().as[(String, Long)].collect().toMap
    fail(retries == gen.rejects.filter(_._2 > 0).toMap,
      s"retries by reason $retries, expected ${gen.rejects}")

    val emitted = spark.read.parquet(s"$out/kafka_out")
      .select(col("topic"), col("apiType"), col("size"), col("reason"),
        from_json(col("value"), lit("inv_pack_res array<string>"))("inv_pack_res").as("items"),
        (unix_micros(col("_metadata.file_modification_time")) / 1000.0).as("fileMs"))
      .as[Emitted].collect().toSeq
    val keys = emitted.flatMap(_.items.map(_.split('|')(1)))
    val counts = keys.groupBy(identity).map { case (k, v) => k -> v.size }
    fail(counts.values.forall(_ == 1), s"${counts.count(_._2 > 1)} records emitted more than once")
    fail(counts.keySet == gen.expectedKeys.keySet,
      s"${gen.expectedKeys.keySet.diff(counts.keySet).size} in-domain records never emitted, " +
        s"${counts.keySet.diff(gen.expectedKeys.keySet).size} unexpected records emitted")
    fail(emitted.filter(_.reason == "count").forall(e => e.size == BatchSize && e.items.size == BatchSize),
      "a count-flushed packet does not hold exactly 100 records")
    val itemTypes = emitted.flatMap(_.items.map(_.split('|')(0).toInt))
    fail(itemTypes.forall(gen.Domain.contains), "an out-of-domain record was emitted")
    fail(emitted.forall(e => Topics.get(e.apiType).contains(e.topic) &&
      e.items.forall(_.startsWith(s"${e.apiType}|"))), "a packet's topic or records do not match its api_type")
    emitted
  }

  private def layers(ctx: Ctx, reqProg: Seq[StreamingQueryProgress],
      respProg: Seq[StreamingQueryProgress], emitted: Seq[Emitted],
      due: mutable.HashMap[String, Double], bursts: Seq[Burst],
      lateMax: Double, extra: Option[(Double, Double)]): Unit = {
    val reqData = reqProg.filter(_.numInputRows > 0)
    ctx.put("streaming.ingest.batches", reqData.size.toDouble, "count")
    ctx.put("streaming.ingest.add_batch_ms_p50", Stats.median(reqData.map(dur(_, "addBatch"))), "ms")
    ctx.put("streaming.ingest.planning_ms_p50", Stats.median(reqData.map(dur(_, "queryPlanning"))), "ms")
    ctx.put("streaming.ingest.checkpoint_ms_p50",
      Stats.median(reqData.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms")
    ctx.put("streaming.ingest.rows_per_batch_p50", Stats.median(reqData.map(_.numInputRows.toDouble)), "count")

    val (full, empty) = respProg.partition(_.numInputRows > 0)
    val state = respProg.flatMap(_.stateOperators.headOption)
    ctx.put("streaming.respond.batches", respProg.size.toDouble, "count")
    ctx.put("streaming.respond.empty_batches", empty.size.toDouble, "count")
    ctx.put("streaming.respond.empty_batch_ms_p50", Stats.median(empty.map(_.batchDuration.toDouble)), "ms")
    ctx.put("streaming.respond.add_batch_ms_p50", Stats.median(full.map(dur(_, "addBatch"))), "ms")
    ctx.put("streaming.respond.state_rows_max", state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
    ctx.put("streaming.respond.state_bytes_max", state.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
    ctx.put("streaming.respond.state_commit_ms_p50", Stats.median(state.map(_.commitTimeMs.toDouble)), "ms")
    Seq("count", "timeout", "force").foreach { r =>
      ctx.put(s"streaming.respond.packets_$r", emitted.count(_.reason == r).toDouble, "count")
    }
    // emit time: commit of the response batch that wrote the packet's file
    val sorted = respProg.sortBy(_.batchId)
    def emitMs(e: Emitted): Double = sorted
      .find(b => startMs(b) <= e.fileMs + 1 && e.fileMs <= commitMs(b) + 1)
      .map(commitMs).getOrElse(e.fileMs)
    def dues(e: Emitted) = e.items.flatMap(i => due.get(i.split('|')(1)))
    val countLat = emitted.filter(e => e.reason == "count" && dues(e).size == e.items.size)
      .map(e => emitMs(e) - dues(e).max)
    val timerLag = emitted.filter(e => e.reason == "timeout" && dues(e).size == e.items.size)
      .map(e => emitMs(e) - (dues(e).min + TimeoutMs))
    ctx.put("streaming.respond.lat_p50_ms", Stats.median(countLat), "ms")
    ctx.put("streaming.respond.lat_p90_ms", Stats.quantile(countLat, 0.9), "ms")
    ctx.put("streaming.respond.timer_lag_p50_ms", Stats.median(timerLag), "ms")
    ctx.put("streaming.respond.records_per_s", bursts.map(_.n).sum / bursts.map(_.seconds).sum, "1/s")
    ctx.put("streaming.gen_late_ms_max", lateMax, "ms")
    extra.foreach { case (overhead, _) => ctx.put("trace.overhead_frac", overhead, "ratio") }

    // spans: micro-batches with their phases laid end to end, jobs under
    // the addBatch phase of the batch that ran them
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val addBatchSpan = mutable.HashMap.empty[(String, Long), Int]
    for ((name, prog) <- Seq("ingest" -> reqProg, "respond" -> respProg); b <- prog) {
      val s = ctx.trace.add(s"microbatch:${b.batchId}", ctx.root, startMs(b), commitMs(b),
        Map("job" -> name, "rows" -> b.numInputRows.toString))
      var t = startMs(b)
      phases.foreach { ph =>
        val d = dur(b, ph)
        val id = ctx.trace.add(ph, s, t, t + d)
        if (ph == "addBatch") addBatchSpan((b.id.toString, b.batchId)) = id
        t += d
      }
    }
    ctx.recorder.foreach { r =>
      val jobs = r.jobList
      var unattributed = 0
      jobs.foreach { j =>
        val parent = (for (q <- j.queryId; b <- j.batchId; s <- addBatchSpan.get((q, b))) yield s)
          .orElse(j.group.filter(_ == "pb|check").map(_ => -1))
        if (parent.isEmpty) unattributed += 1
        ctx.trace.add(s"job:${j.id}", parent.getOrElse(-1), j.start, j.end,
          Map("stages" -> j.stages.toString))
      }
      ctx.put("trace.unattributed_jobs", unattributed.toDouble, "count")
      def jobsPerBatch(prog: Seq[StreamingQueryProgress]) = {
        val data = prog.filter(_.numInputRows > 0).map(b => (b.id.toString, b.batchId)).toSet
        Stats.median(jobs.flatMap(j => for (q <- j.queryId; b <- j.batchId) yield (q, b))
          .filter(data).groupBy(identity).values.map(_.size.toDouble))
      }
      ctx.put("streaming.ingest.jobs_per_batch", jobsPerBatch(reqProg), "count")
      ctx.put("streaming.respond.jobs_per_batch", jobsPerBatch(respProg), "count")
      val t0 = (reqProg ++ respProg).map(startMs).minOption.getOrElse(0.0)
      val t1 = (reqProg ++ respProg).map(commitMs).maxOption.getOrElse(1.0)
      ctx.put("spark.task_busy_frac", jobs.map(_.taskRunMs).sum / ((t1 - t0) * ctx.cores), "ratio")
      ctx.put("sources.input_bytes", jobs.map(_.inputBytes).sum.toDouble, "bytes")
      ctx.put("sources.input_rows", jobs.map(_.inputRows).sum.toDouble, "count")
    }
  }
}
