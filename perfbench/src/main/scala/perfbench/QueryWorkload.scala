package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import graft.SparkEntry

/** The `lifecycle_serve` workload: write-inclusive at-rest verbs and
  * read-only serving queries in one pass, in a fixed order, over tables
  * whose row order the launcher permutes with the seed. Every call
  * goes through `SparkEntry.queries(name)(spark, dataDir)` and is timed
  * from outside in three phases:
  *
  *   - build: the call itself, which includes any eager at-rest writes;
  *   - plan:  `queryExecution.executedPlan`;
  *   - exec:  a noop-sink write, which evaluates every output column.
  *
  * Each query runs twice in a row: an untimed call whose result is
  * written to parquet for the launcher's fingerprint check against the
  * committed DuckDB oracle fingerprints, then the timed call. A run
  * makes one such pass per 15 of its seconds, at least one. */
object QueryWorkload {
  /** Write-inclusive at-rest verbs in the timed pass. A pass of d29,
    * d30, ir19, ir24, ts12 and ly4 measured about 47 s on a 4-core host,
    * far longer than a run may take. */
  val Lifecycle: Seq[String] = Seq("ly4_zorder_forget")
  /** Verbs too slow for the timed pass (6 to 24 s a call here), called
    * once at the end of a traced run for their per-layer numbers. */
  val Profiled: Seq[String] = Seq("d29_clusters_atrest", "ts12_sax_forget")

  /** Compiled-kernel queries (the graft.functions layer). */
  val Kernels: Seq[String] = Seq("d2_minhash_lsh", "d17_winnowing", "x26_sign_hamming")
  /** SQL surface and as-of planning (the graft.plans layer). */
  val Planning: Seq[String] = Seq("sx1_sql_signatures", "sx3_sql_asof", "jx5_asof_native")
  /** Read-only queries: invoice batch operators, kernels, planning, and
    * the read side of the clusters family. A serve query that writes a
    * file under the index root fails. */
  val Serve: Seq[String] = Seq("t3_validate", "k2_retry_apply") ++ Kernels ++
    Planning :+ "d6b_star_clusters"

  /** Per-query layer fields reported by a traced run. */
  val Fields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "build_s" -> "s", "plan_s" -> "s", "exec_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "driver_gap_s" -> "s",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "files_written" -> "count", "bytes_written" -> "bytes",
    "files_per_bucket_max" -> "count")

  /** One timed call; `files` are the data files it left under the index
    * root. */
  final case class Call(q: String, df: DataFrame, build: Double, plan: Double,
      exec: Double, groups: Seq[(String, Int)], files: Seq[File]) {
    def wall: Double = build + plan + exec
  }

  def run(ctx: Ctx): Unit = {
    val names = Lifecycle ++ Serve
    val indexRoot = new File(ctx.work, "target/graft-index")
    ctx.put("setup_s", ctx.setup(3) {
      ctx.newSession()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => ctx.spark.read.parquet(s"${ctx.dataDir}/$t.parquet").schema)
      noop(SparkEntry.queries("a5_distinct_agg")(ctx.spark, ctx.dataDir))
    }, "s")
    ctx.mark("set-up done")
    val spark = ctx.spark
    val sc = spark.sparkContext

    def written(since: Double): Seq[File] = Fs.tree(indexRoot).filter { f =>
      f.lastModified() >= since.toLong && !f.getName.startsWith(".") && !f.getName.startsWith("_")
    }
    def readOnlyCheck(q: String, files: Seq[File]): Unit = if (Serve.contains(q))
      ctx.op(if (files.isEmpty) None
        else Some(s"$q wrote ${files.size} files under the index root"))

    val results = new File(ctx.work, "results")
    def keep(q: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(new File(results, q).getPath)

    def call(pass: Int, q: String, parent: Int,
        sink: DataFrame => Unit = noop): Option[Call] = {
      val t = ctx.trace
      def phase[T](name: String, qs: Int)(f: => T): (T, Double, (String, Int)) = {
        val group = s"pb|$pass|$q|$name"
        sc.setJobGroup(group, s"$q $name", interruptOnCancel = false)
        t.span(name, qs, Map("group" -> group)) { id =>
          val t0 = System.nanoTime()
          val r = f
          (r, (System.nanoTime() - t0) / 1e9, group -> id)
        }
      }
      val since = Trace.nowMs()
      val c = try {
        val c = t.span(s"query:$q", parent) { qs =>
          val (df, b, g1) = phase("build", qs)(SparkEntry.queries(q)(spark, ctx.dataDir))
          val (_, p, g2) = phase("plan", qs)(df.queryExecution.executedPlan)
          val (_, e, g3) = phase("exec", qs)(sink(df))
          Call(q, df, b, p, e, Seq(g1, g2, g3), Nil)
        }
        ctx.op(None)
        Some(c.copy(files = written(since)))
      } catch {
        case e: Throwable =>
          ctx.op(Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"))
          None
      } finally {
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
      readOnlyCheck(q, c.map(_.files).getOrElse(written(since)))
      c
    }
    // each query twice in a row: an untimed call, whose result the first
    // pass keeps for the launcher's fingerprint check, then the timed call
    def pass(n: Int, parent: Int, sink: String => DataFrame => Unit): (Seq[Call], Seq[Call]) =
      ctx.trace.span(s"pass:$n", parent) { ps =>
        val (warm, timed) = names.map(q => (call(2 * n, q, ps, sink(q)), call(2 * n + 1, q, ps))).unzip
        (warm.flatten, timed.flatten)
      }

    // one pass per 15 of the run's seconds, at least one
    val detached = ctx.detachRecorder()
    val passes = (0 until math.max(1, ctx.seconds / 15))
      .map(n => pass(n, ctx.root, if (n == 0) keep else _ => noop)._2)
    ctx.mark(s"${passes.size} timed passes done")
    val byQuery = passes.flatten.groupBy(_.q).map { case (q, cs) => q -> Stats.median(cs.map(_.wall)) }
    val walls = byQuery.values.toSeq
    println("median timed wall per query (s):")
    byQuery.toSeq.sortBy(-_._2).foreach { case (q, w) => println(f"  $q%-24s $w%8.3f") }
    ctx.put("latency_ms", Stats.gmean(walls) * 1000, "ms")
    ctx.put("throughput_per_s", walls.size / walls.sum, "1/s")
    ctx.put("backlog_s", walls.sum, "s")

    detached.foreach { r =>
      // traced pass: the same calls with the recorder attached and spans on
      ctx.attach(r)
      val gc0 = Jvm.gcMs
      Jvm.resetPeak()
      val t0 = Trace.nowMs()
      val (warm, traced) = ctx.trace.span(s"workload:${ctx.workload}", ctx.root) { ws =>
        pass(passes.size, ws, _ => noop)
      }
      val t1 = Trace.nowMs()
      ctx.put("spark.gc_s", (Jvm.gcMs - gc0) / 1000.0, "s")
      ctx.put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
      // later passes run warmer, so the traced pass is set against the
      // mean of the untraced passes before and after it
      ctx.detachRecorder()
      val after = pass(passes.size + 1, ctx.root, _ => noop)._2.map(_.wall).sum
      ctx.attach(r)
      ctx.put("trace.overhead_frac",
        traced.map(_.wall).sum / ((passes.last.map(_.wall).sum + after) / 2) - 1, "ratio")
      val profiled = ctx.trace.span("profiled", ctx.root) { ps =>
        Profiled.flatMap(q => call(2 * passes.size + 4, q, ps))
      }
      val t2 = Trace.nowMs()
      (warm ++ traced ++ profiled).foreach(c => c.groups.foreach { case (g, _) => r.awaitJobs(g) })
      r.awaitJobs(null)
      layers(ctx, r, traced, profiled, warm, t0, t1, t2)
      // a profiled result, computed again untimed, for the fingerprint check
      sc.setJobGroup("pb|check", "result check", interruptOnCancel = false)
      for (c <- profiled)
        ctx.op(try { keep(c.q)(c.df); None }
          catch { case e: Throwable => Some(s"${c.q} result: ${e.getClass.getSimpleName}: ${e.getMessage}") })
      sc.clearJobGroup()
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-layer numbers of the timed calls of one traced pass and of the
    * profiled calls; `warm` only places its jobs in the trace. */
  private def layers(ctx: Ctx, r: Recorder, pass: Seq[Call], profiled: Seq[Call],
      warm: Seq[Call], t0: Double, t1: Double, t2: Double): Unit = {
    val calls = pass ++ profiled
    val all = r.jobList.filter(j => j.start >= t0 - 1 && j.start <= t2 + 1)
    // workload-wide numbers cover the traced pass only
    val jobs = all.filter(_.start <= t1 + 1)
    val byGroup = all.groupBy(_.group.getOrElse(""))
    val spanOf = (calls ++ warm).flatMap(_.groups).toMap
    // job spans under the phase that submitted them
    all.foreach { j =>
      ctx.trace.add(s"job:${j.id}", j.group.flatMap(spanOf.get).getOrElse(ctx.root),
        j.start, j.end, Map("stages" -> j.stages.toString, "group" -> j.group.getOrElse("")))
    }
    val self = ctx.trace.selfMs
    ctx.put("trace.unattributed_jobs",
      all.count(j => j.group.forall(g => !spanOf.contains(g))).toDouble, "count")

    def fields(cs: Seq[Call]): Map[String, Double] = {
      val js = cs.flatMap(_.groups).flatMap { case (g, _) => byGroup.getOrElse(g, Nil) }
      val fs = cs.flatMap(_.files)
      val perDir = fs.filter(_.getName.startsWith("part-")).groupBy(_.getParentFile.getPath)
      Map(
        "wall_s" -> cs.map(_.wall).sum, "build_s" -> cs.map(_.build).sum,
        "plan_s" -> cs.map(_.plan).sum, "exec_s" -> cs.map(_.exec).sum,
        "jobs" -> js.size.toDouble, "stages" -> js.map(_.stages).sum.toDouble,
        // phase wall that no Spark job covers
        "driver_gap_s" -> cs.flatMap(_.groups).map { case (_, id) => self.getOrElse(id, 0.0) }.sum / 1000,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
        "files_written" -> fs.size.toDouble,
        "bytes_written" -> fs.map(_.length()).sum.toDouble,
        "files_per_bucket_max" -> perDir.values.map(_.size.toDouble).maxOption.getOrElse(0.0))
    }
    val unit = Fields.toMap
    calls.filter(c => !Serve.contains(c.q)).groupBy(_.q).foreach { case (q, cs) =>
      fields(cs).foreach { case (k, v) => ctx.put(s"$q.$k", v, unit(k)) }
    }
    val serve = pass.filter(c => Serve.contains(c.q))
    fields(serve).foreach { case (k, v) => ctx.put(s"serve.$k", v, unit(k)) }
    ctx.put("functions.exec_s", pass.filter(c => Kernels.contains(c.q)).map(_.exec).sum, "s")
    ctx.put("plans.plan_s", pass.filter(c => Planning.contains(c.q)).map(_.plan).sum, "s")
    ctx.put("sources.input_bytes", jobs.map(_.inputBytes).sum.toDouble, "bytes")
    ctx.put("sources.input_rows", jobs.map(_.inputRows).sum.toDouble, "count")
    ctx.put("spark.task_busy_frac", jobs.map(_.taskRunMs).sum / ((t1 - t0) * ctx.cores), "ratio")
  }
}
