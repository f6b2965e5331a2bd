package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-job timing profile of ONE registered query — the guide §1
  * "measure first" harness for the lifecycle verbs, whose cost is many
  * sequential driver-submitted jobs rather than one big stage. Usage:
  *   sbt "runMain graft.ProfileJobs <query> [sfDir]"
  * (SPARK_GRAFT_CPUS picks the core count, like Bench.) Prints every
  * job of one timed run (after a warm run), with its call site, and
  * the per-table data-file counts of any index root the query wrote —
  * the §6 small-files evidence. Not part of the driver contract. */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = mutable.Map[Int, (Long, String)]()
    val done = mutable.ArrayBuffer[(Int, String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties.getProperty("spark.job.description"))
          .orElse(Option(j.properties.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(j.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs.synchronized { jobs(j.jobId) = (j.time, desc); () }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.remove(j.jobId).foreach { case (t0, d) =>
            done += ((j.jobId, d, j.time - t0))
          }
        }
    })
    val fn = SparkEntry.queries(name)
    def run(): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    run() // warm
    graft.operators.CacheScope.drain()
    spark.sharedState.cacheManager.clearCache()
    // `done` is appended under the `jobs` lock (listener thread)
    jobs.synchronized(done.clear())
    val t0 = System.nanoTime()
    run()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    val profile = jobs.synchronized(done.toList)
    println(f"TOTAL $name wall=$wall%.2fs jobs=${profile.size}")
    profile.sortBy(-_._3).take(45).foreach { case (id, d, ms) =>
      println(f"job $id%5d ${ms}%6d ms  $d")
    }
    println(s"sum_job_ms=${profile.map(_._3).sum}")
    println("-- by call site --")
    profile.groupBy(_._2).toSeq
      .map { case (d, js) => (d, js.size, js.map(_._3).sum) }
      .sortBy(-_._3)
      .foreach { case (d, n, ms) => println(f"agg $n%3d jobs ${ms}%7d ms  $d") }
    // §6 evidence: files per written table under this app's index root
    val root = new java.io.File(
      "target/graft-index/" + spark.sparkContext.applicationId)
    // listFiles() is null when a directory vanishes or is unreadable
    def list(f: java.io.File): Array[java.io.File] =
      Option(f.listFiles()).getOrElse(Array.empty)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) list(f).toSeq.flatMap(walk) else Seq(f)
    if (root.exists()) {
      for (ds <- list(root).filter(_.isDirectory);
           idx <- list(ds).filter(_.isDirectory);
           tbl <- list(idx).filter(_.isDirectory)) {
        val files = walk(tbl).filter(_.getName.endsWith(".parquet"))
        println(s"FILES ${idx.getName}/${tbl.getName}: ${files.size} " +
          s"(${files.map(_.length()).sum} B)")
      }
    }
    spark.stop()
  }
}
