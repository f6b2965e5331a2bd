package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.streaming.MicroBatcher
import graft.streaming.MicroBatcher.{Packet, Rec}

/** SURVEY §5.4 — stateful streaming G2 (count-OR-timeout) + in-buffer
  * G3 dedup, driven by MemoryStream (not oracle-checkable: processing
  * time). Packet identity is also pinned on the RocksDB state store
  * provider, the production backend (StreamingDurabilitySpec).
  *
  * NOTE: with `ProcessingTimeTimeout`, `processAllAvailable()` can spin
  * forever (timer-only batches keep making new work "available"), so the
  * harness polls the memory sink against a deadline instead.
  */
object MicroBatcherSpec {
  /** Static fake clock: statics are shared across local-mode task
    * closures, unlike captured vars (serialized by value per task). */
  val FakeClock = new java.util.concurrent.atomic.AtomicLong(0L)
}

class MicroBatcherSpec extends SparkSpec {

  private def startQuery(in: MemoryStream[Rec], batchSize: Int,
      timeoutMs: Long,
      clock: () => Long = () => System.currentTimeMillis()): StreamingQuery =
    MicroBatcher(in.toDS(), batchSize, timeoutMs, clock)
      .writeStream.format("memory")
      .queryName("mb_out_" + System.nanoTime())
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(50))
      .start()

  /** Poll the memory sink until `enough` holds or the deadline passes. */
  private def pollUntil(q: StreamingQuery, deadlineMs: Long)(
      enough: Seq[Packet] => Boolean): Seq[Packet] = {
    import spark.implicits._
    val deadline = System.currentTimeMillis() + deadlineMs
    var out = Seq.empty[Packet]
    while (System.currentTimeMillis() < deadline &&
        { out = spark.table(q.name).as[Packet].collect().toSeq; !enough(out) })
      Thread.sleep(100)
    out
  }

  private def run(recs: Seq[Rec], batchSize: Int, timeoutMs: Long,
      deadlineMs: Long = 30000L)(enough: Seq[Packet] => Boolean): Seq[Packet] = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Rec]
    val q = startQuery(in, batchSize, timeoutMs)
    try {
      in.addData(recs)
      pollUntil(q, deadlineMs)(enough)
    } finally q.stop()
  }

  private def rec(k: Int, i: Int) = Rec(k, s"K${k}_$i", s"p$i")

  test("count trigger: a burst drains in full batches, remainder buffered") {
    val out = run((0 until 25).map(rec(10, _)), batchSize = 10,
      timeoutMs = 600000L)(_.count(_.reason == "count") >= 2)
    assert(out.count(_.reason == "count") === 2)
    assert(out.filter(_.reason == "count").forall(_.size === 10))
    // the 5-row remainder is still waiting on its (10-minute) timer
    assert(!out.exists(_.reason == "timeout"))
  }

  test("timeout trigger: the remainder flushes after the timer fires") {
    val out = run((0 until 7).map(rec(11, _)), batchSize = 10,
      timeoutMs = 300L)(_.exists(_.reason == "timeout"))
    assert(out.size === 1)
    assert(out.head.reason === "timeout" && out.head.size === 7)
  }

  test("in-buffer dedup: duplicate record keys collapse before batching") {
    val dupes = (0 until 30).map(i => rec(12, i % 10)) // 10 distinct keys
    val out = run(dupes, batchSize = 10, timeoutMs = 600000L)(
      _.count(_.reason == "count") >= 1)
    assert(out.count(_.reason == "count") === 1)
    assert(out.head.size === 10)
  }

  test("count path: full packets flush immediately, remainder stays buffered") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    withRocksDBStateStore {
      val in = MemoryStream[Rec]
      val q = startQuery(in, batchSize = 3, timeoutMs = 600000L)
      try {
        in.addData(
          (0 until 6).map(rec(10, _)) ++ (0 until 3).map(rec(12, _)) :+
            Rec(12, "K12_extra", "q_extra") :+
            Rec(12, "K12_extra", "dup_of_extra")) // within-buffer dedup
        val out = pollUntil(q, 30000L)(_.size >= 3)
        // 2 full packets for key 10, 1 for key 12; the extra row waits
        assert(out.size === 3)
        assert(out.count(_.apiType == 10) === 2)
        assert(out.forall(p => p.size == 3 && p.reason == "count"))
        // packet identity: distinct (apiType, seq)
        assert(out.map(p => (p.apiType, p.seq)).distinct.size === 3)
        // second burst for key 10 continues the seq, doesn't restart it
        in.addData((6 until 9).map(rec(10, _)): _*)
        val seqs = pollUntil(q, 30000L)(_.size >= 4)
          .filter(_.apiType == 10).map(_.seq).sorted
        assert(seqs === Seq(0L, 1L, 2L))
      } finally q.stop()
    }
  }

  test("deadline: a trickle-fed remainder flushes timeoutMs after its OLDEST row") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    MicroBatcherSpec.FakeClock.set(0L)
    val in = MemoryStream[Rec]
    val q = startQuery(in, batchSize = 10, timeoutMs = 600000L,
      clock = () => MicroBatcherSpec.FakeClock.get())
    // add rows and wait until the micro-batch holding them has
    // completed, so the next clock step cannot leak into it
    def feed(recs: Rec*): Unit = {
      val off = in.addData(recs).json
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !Option(q.lastProgress).exists(_.sources.head.endOffset == off))
        Thread.sleep(50)
    }
    try {
      feed(rec(20, 0), rec(20, 1))
      // half the timeout later one more row joins; under a deadline
      // that restarts on every input this would push the flush out to
      // 900000 on the fake clock
      MicroBatcherSpec.FakeClock.set(300000L)
      feed(rec(20, 2))
      // 1× timeout after the oldest row (not 2×, and only 300000 after
      // the latest): the next input flushes every pending row
      MicroBatcherSpec.FakeClock.set(600000L)
      in.addData(rec(20, 3))
      val out = pollUntil(q, 30000L)(_.exists(_.reason == "timeout"))
      assert(out.size === 1)
      assert(out.head.reason === "timeout" && out.head.size === 4)
      assert(out.head.items === Seq("p0", "p1", "p2", "p3"))
      assert(!out.exists(_.reason == "force"))
    } finally q.stop()
  }

  test("keys batch independently") {
    val mixed = (0 until 10).map(rec(13, _)) ++ (0 until 4).map(rec(14, _))
    val out = run(mixed, batchSize = 10, timeoutMs = 600000L)(
      _.exists(p => p.apiType == 13 && p.reason == "count"))
    assert(out.count(p => p.apiType == 13 && p.reason == "count") === 1)
    assert(!out.exists(p => p.apiType == 14)) // below count, timer pending
  }
}
