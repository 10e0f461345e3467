package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.SparkEntry

/** The `curate_batch` workload: five registered curation ops, one per
  * curation module, in order, over the generated 4x corpus, each timed
  * from the call of its registered function to its result written as
  * parquet.
  *
  * Every pass runs over its own copy of the corpus directory, so the
  * engine's derived state (signature tables, shared views keyed by the
  * corpus path) is rebuilt inside the pass and nothing carries over.
  * An untraced run makes `ctx.passes` passes, a count fixed by run.py
  * and not by the engine's speed. A traced run makes three:
  * untraced, traced, untraced; the per-layer numbers come from the
  * traced pass and the tracing overhead is its wall time minus the last
  * pass's. */
object CurateBatch {
  /** (registered op, engine module that implements it), in run order:
    * one op per curation module. */
  val Ops: Seq[(String, String)] = Seq(
    "lsh_pairs" -> "Dedup", "tfidf_keywords" -> "TextAnalysis",
    "bpe_encode" -> "Bpe", "ann_ivf_pq" -> "Pq", "pipeline_e2e" -> "Curate")

  private def copyCorpus(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Seq("documents.parquet", "embeddings.parquet").foreach(f =>
      Files.copy(Paths.get(from, f), Paths.get(to, f)))
  }

  private var framesPeak = (0, 0L)

  /** One pass: each op's build and exec seconds, or the error it raised. */
  private def pass(ctx: Ctx, p: Int): Seq[Map[String, Any]] = {
    val dir = s"${ctx.out}/pass$p/corpus"
    copyCorpus(s"${ctx.input}/corpus", dir)
    val t = ctx.tracer
    Ops.map { case (name, module) =>
      val row = Map("op" -> name, "module" -> module)
      try t.span(name, "bench", s"pass$p:$name") {
        val (df, build) = Main.time(t.span(s"$module.build", module)(
          SparkEntry.queries(name)(ctx.spark, dir)))
        val (_, exec) = Main.time(t.span("Exec.write", "Exec")(
          df.write.parquet(s"${ctx.out}/pass$p/out/$name")))
        if (t.on) {
          val f = Main.framesNow(ctx.spark)
          framesPeak = (framesPeak._1.max(f._1), framesPeak._2.max(f._2))
        }
        row ++ Map("build_s" -> build, "exec_s" -> exec)
      } catch {
        case NonFatal(e) => row ++ Map("build_s" -> 0.0, "exec_s" -> 0.0, "error" -> e.toString)
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // set-up: open the corpus and touch every column once, three times
    ctx.put("setup_prep_s", (1 to 3).map { _ =>
      Main.time {
        spark.read.parquet(s"${ctx.input}/corpus/documents.parquet").collect()
        spark.read.parquet(s"${ctx.input}/corpus/embeddings.parquet").collect()
      }._2
    })
    val t = ctx.tracer
    if (t.enabled) t.pause()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val n = if (t.enabled) 3 else ctx.passes
    val (_, windowS) = Main.time((0 until n).foreach { p =>
      if (p == 1) t.resume() else t.pause()
      val (ops, wall) = Main.time(pass(ctx, p))
      passes += Map("pass" -> p, "wall_s" -> wall, "traced" -> t.on, "ops" -> ops)
    })
    t.pause()
    ctx.put("window_s", windowS)
    ctx.put("passes", passes.toSeq)
    ctx.put("frames_peak", Map("frames" -> framesPeak._1, "bytes" -> framesPeak._2))
    ctx.put("oracle_sql", Ops.map { case (name, _) => name -> SparkEntry.oracleSql(name) }.toMap)
  }
}
