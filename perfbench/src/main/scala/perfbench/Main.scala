package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** What a workload needs: the session, its inputs and output dir, the
  * measurement window (`ingest`), the number of passes (`curate_batch`)
  * and the tracer. Results go into `result`. */
final class Ctx(val spark: SparkSession, val input: String, val out: String,
    val seconds: Double, val passes: Int, val tracer: Tracer) {
  val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = result(k) = v
}

/** Benchmark harness entry point, launched by perfbench/run.py:
  *
  *   perfbench.Main --workload <ingest|search_serve|curate_batch>
  *     --input <generated inputs> --out <dir> --seconds <s> --passes <n>
  *     --trace <0|1>
  *
  * Starts a local[nproc] session, runs the workload against the
  * engine's public functions and writes `result.json` (raw samples,
  * JVM and host telemetry) plus, when traced, the span and listener
  * dumps that perfbench/trace_summary.py turns into the per-layer
  * table. Metrics and output checks are computed by run.py. */
object Main {
  @volatile private var probeSink = 0L
  private implicit val formats: Formats = DefaultFormats

  /** `v` (numbers, strings, booleans, sequences and maps) as JSON. */
  def json(v: AnyRef): String = Serialization.write(v)

  /** Fixed single-thread CPU probe (2^27 xorshift steps), the same
    * workload as graft.Bench's calib_cpu: a host-speed index reported
    * beside every run. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink = x
    (System.nanoTime - t0) / 1e9
  }

  def session(cpus: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Persisted RDDs and their stored bytes right now: the engine's
    * persisted frames (DISK_ONLY ring, local checkpoints, caches). */
  def framesNow(spark: SparkSession): (Int, Long) =
    (spark.sparkContext.getPersistentRDDs.size,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = opt("out")
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(out))
    val probe = cpuProbe()
    val (spark, sessionS) = time(session(cpus, out))
    val ctx = new Ctx(spark, opt("input"), out, opt("seconds").toDouble,
      opt.getOrElse("passes", "1").toInt, new Tracer(spark, opt.getOrElse("trace", "0") == "1"))
    ctx.put("cpu_probe_s", probe)
    ctx.put("session_s", sessionS)
    val gc0 = gcSeconds()
    try {
      workload match {
        case "ingest" => Ingest.run(ctx)
        case "search_serve" => Serve.run(ctx)
        case "curate_batch" => CurateBatch.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.tracer.finish(out)
      ctx.put("gc_s", gcSeconds() - gc0)
      ctx.put("heap_peak_mb", heapPeakMb())
      ctx.put("peak_rss_mb", peakRssMb())
      Files.write(Paths.get(out, "result.json"), json(ctx.result.toMap).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
