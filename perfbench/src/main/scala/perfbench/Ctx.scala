package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything one workload run needs: options, its session, the span
  * buffer and (traced runs only) the listener recorder. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: File, val dataDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val trace = new Trace(traced)
  /** The run's root span, parent of each workload's top spans. */
  var root: Int = -1
  var spark: SparkSession = _
  var recorder: Option[Recorder] = None

  /** Metrics by name, with their units. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private val t0 = System.nanoTime()
  /** Logs how far into the run a step finished. */
  def mark(step: String): Unit =
    println(f"[${(System.nanoTime() - t0) / 1e9}%7.2fs] $step")

  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Records one attempted operation; `failure` names its cause. */
  def op(failure: Option[String]): Unit = {
    attempted += 1
    failure.foreach(f => failures += f)
  }

  /** A fresh session with the benchmark's fixed settings: all cores of
    * the host, as many shuffle partitions as cores. */
  def newSession(threads: Int = cores): SparkSession = {
    Option(spark).foreach { s => s.stop(); mark("session stopped") }
    recorder = None
    spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session started")
    if (traced) attach(new Recorder(spark.sparkContext))
    spark
  }

  /** Detaches the recorder so a following pass runs untraced. */
  def detachRecorder(): Option[Recorder] = {
    recorder.foreach { r =>
      spark.sparkContext.removeSparkListener(r)
      spark.streams.removeListener(r.streams)
    }
    val r = recorder
    recorder = None
    r
  }
  def attach(r: Recorder): Unit = {
    spark.sparkContext.addSparkListener(r)
    spark.streams.addListener(r.streams)
    recorder = Some(r)
  }

  /** Runs a set-up `times` times; returns the median wall in seconds. */
  def setup(times: Int)(once: => Unit): Double = {
    val ts = (1 to times).map { _ =>
      val t0 = System.nanoTime()
      once
      val dt = (System.nanoTime() - t0) / 1e9
      mark(f"set-up took $dt%.2fs")
      dt
    }
    Stats.median(ts)
  }
}

object Fs {
  def tree(root: File): Seq[File] =
    Option(root.listFiles()).map(_.toSeq).getOrElse(Seq.empty).flatMap { f =>
      if (f.isDirectory) tree(f) else Seq(f)
    }
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
}

/** JVM-wide counters: garbage-collection time and peak heap use. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
