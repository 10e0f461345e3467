package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{FileSource, IngestPipeline, ParquetIndexSink, Sink}

/** The `ingest` workload: the paper's own dataflow, generated JSON
  * payload files → `FileSource` → `IngestPipeline.startWith` →
  * `ParquetIndexSink`.
  *
  * Set-up runs the pipeline to completion three times over a small
  * warm-up stream. The drain phase then starts a query over a backlog
  * that is already on disk and lets it drain in a few large batches.
  * The live phase starts an empty query with `Trigger.ProcessingTime(0)`
  * and a generator thread moves each generated file into its source
  * directory when the file is due (open loop, fixed rate), for the
  * measurement window. Commit times, the batch each file landed in and
  * Spark's per-trigger progress are read from the checkpoint and the
  * query after the run, by run.py. */
object Ingest {
  /** Times every batch write; a span per write when traced. With
    * `alternate`, a traced run traces odd epochs only, so tracing
    * overhead is traced minus untraced write time of one phase. */
  final class TimedSink(inner: Sink, t: Tracer, phase: String,
      alternate: Boolean) extends Sink {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Boolean)]()
    override def write(batch: DataFrame, epochId: Long): Unit = {
      if (alternate) { if (epochId % 2 == 1) t.resume() else t.pause() }
      val (_, s) = Main.time(t.span("ParquetIndexSink.write", "ParquetIndexSink",
        s"$phase:$epochId")(inner.write(batch, epochId)))
      writes.add((epochId, s, t.on))
    }
  }

  private def start(ctx: Ctx, src: String, dir: String, maxFiles: Int,
      trigger: Trigger, sink: Sink): StreamingQuery =
    IngestPipeline.startWith(ctx.spark, FileSource(src, maxFiles), sink,
      s"$dir/ckpt", trigger)

  private def sink(ctx: Ctx, dir: String, phase: String,
      alternate: Boolean = false): TimedSink =
    new TimedSink(ParquetIndexSink(s"$dir/index", s"$dir/dlq"), ctx.tracer, phase,
      alternate)

  private def dumpProgress(q: StreamingQuery, path: String): Unit = {
    val w = new PrintWriter(path)
    try q.recentProgress.foreach(p => w.println(p.json.replace("\n", "")))
    finally w.close()
  }

  private def writes(s: TimedSink): Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    s.writes.asScala.toSeq.map { case (e, sec, traced) =>
      Map("epoch" -> e, "write_s" -> sec, "traced" -> traced)
    }
  }

  def run(ctx: Ctx): Unit = {
    val in = s"${ctx.input}/ingest"
    val t = ctx.tracer
    val cfg = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$in/config.json"))

    ctx.put("setup_prep_s", (1 to 3).map { k =>
      val dir = s"${ctx.out}/warm$k"
      Main.time(start(ctx, s"$in/warm", dir, 1000, Trigger.AvailableNow(),
        sink(ctx, dir, s"warm$k")).awaitTermination())._2
    })

    // drain: the backlog is on disk before the query starts
    val drainDir = s"${ctx.out}/drain"
    val drainSink = sink(ctx, drainDir, "drain")
    val dq = start(ctx, s"$in/drain", drainDir, cfg.get("drain_files_per_batch").asInt,
      Trigger.AvailableNow(), drainSink)
    dq.awaitTermination()
    dumpProgress(dq, s"$drainDir/progress.jsonl")

    // live: open loop at a fixed rate
    val liveDir = s"${ctx.out}/live"
    val src = s"$liveDir/src"
    Files.createDirectories(Paths.get(src))
    val staged = new File(s"$in/live").listFiles().map(_.getName).sorted
    val intervalNs = (cfg.get("live_interval_s").asDouble * 1e9).toLong
    val liveSink = sink(ctx, liveDir, "live", alternate = true)
    val q = start(ctx, src, liveDir, 100000, Trigger.ProcessingTime(0), liveSink)
    val ready = System.nanoTime()
    while (q.status.message != "Waiting for data to arrive" &&
        System.nanoTime() - ready < 20e9.toLong) Thread.sleep(10)
    val moved = new Array[Double](staged.length)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val gen = new Thread(() => staged.indices.foreach { i =>
      val due = t0 + i * intervalNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      Files.move(Paths.get(s"$in/live", staged(i)), Paths.get(src, staged(i)),
        StandardCopyOption.ATOMIC_MOVE)
      moved(i) = (System.nanoTime() - t0) / 1e6
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // let the query commit everything that was offered, then stop it
    val expected = cfg.get("live_records").asLong * staged.length
    val deadline = System.nanoTime() + 60e9.toLong
    while (q.recentProgress.map(_.numInputRows).sum < expected &&
        q.exception.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    q.stop()
    t.pause()
    q.exception.foreach(e => throw e)
    dumpProgress(q, s"$liveDir/progress.jsonl")

    ctx.put("drain", Map("writes" -> writes(drainSink)))
    ctx.put("live", Map("t0_ms" -> t0Ms, "writes" -> writes(liveSink),
      "files" -> staged.indices.map(i => Map("name" -> staged(i),
        "due_ms" -> (i * intervalNs / 1e6), "moved_ms" -> moved(i)))))
  }
}
