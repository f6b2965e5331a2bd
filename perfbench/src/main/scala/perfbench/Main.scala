package perfbench

import java.io.File
import java.nio.file.Files

/** Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `trace.jsonl`) into the work directory. `perfbench/run.py`
  * builds the program, launches this, checks result fingerprints and
  * prints the benchmark's result line.
  *
  * Arguments: --workload invoice_stream|lifecycle_serve --seed N
  * --seconds N --trace 0|1 --work DIR --data DIR */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", new File(a("work")).getAbsoluteFile, a("data"))
    try ctx.trace.span("run", -1) { id =>
      ctx.root = id
      ctx.workload match {
        case "invoice_stream" => StreamWorkload.run(ctx)
        case "lifecycle_serve" => QueryWorkload.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.op(Some(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally Option(ctx.spark).foreach(_.stop())

    val metrics = ctx.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val result = Json.obj(Seq(
      "attempted" -> ctx.attempted.toString,
      "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str)),
      "metrics" -> Json.obj(metrics)))
    Files.writeString(new File(ctx.work, "result.json").toPath, result + "\n")
    if (ctx.traced) ctx.trace.write(new File(ctx.work, "trace.jsonl").toPath)
  }
}
