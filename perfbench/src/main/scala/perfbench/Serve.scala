package perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

import graft.ops.{Dsl, Search}

/** The `search_serve` workload: one client in a closed loop against a
  * persisted search index.
  *
  * Set-up builds the index from the generated corpus three times, into
  * fresh directories (the last one serves), with the untimed warm-up
  * requests after the first build. The loop then serves the whole
  * generated op stream, a fixed number of whole cycles, so every run
  * serves the same mix and the same number of samples however fast the
  * engine is: DSL searches through `Dsl.searchDslFromIndexes`,
  * aggregations through `Dsl.dslAggsFromIndexes`, each timed from call
  * to collected page, and append epochs through
  * `Search.appendToSearchIndex`. The persisted-frame ring is never
  * released, as in steady serving.
  *
  * Outside the timed window every collected page is written back as
  * parquet beside the DuckDB SQL (`Dsl.dslSqlOver` /
  * `dslAggsSqlOver`) over the documents the index held when it was
  * served, for run.py's output check. */
object Serve {
  final case class Op(kind: String, body: String, epoch: String)
  final case class Served(i: Int, op: Op, epochs: Int, latency: Double,
      build: Double, exec: Double, rows: Array[Row], schema: StructType)

  private def ops(node: com.fasterxml.jackson.databind.JsonNode): Seq[Op] =
    node.elements().asScala.map { n =>
      Op(n.get("kind").asText(), Option(n.get("body")).map(_.asText()).orNull,
        Option(n.get("epoch")).map(_.asText()).orNull)
    }.toSeq

  private def readJson(path: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))

  private def serve(spark: SparkSession, t: Tracer, index: String, op: Op,
      req: String): (Array[Row], StructType, Double, Double) =
    t.span(op.kind, "bench", req) {
      val (df, build) = Main.time(t.span("Dsl.build", "Dsl") {
        if (op.kind == "aggs") Dsl.dslAggsFromIndexes(spark, Seq(index), op.body)
        else Dsl.searchDslFromIndexes(spark, Seq(index), op.body)
      })
      val (rows, exec) = Main.time(t.span("Exec.collect", "Exec")(df.collect()))
      (rows, df.schema, build, exec)
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val docs = spark.read.parquet(s"${ctx.input}/corpus/documents.parquet")
    def build(k: Int): Double =
      Main.time(t.span("Search.build_index", "Search", s"setup-$k")(
        Search.buildSearchIndexOf(docs, s"${ctx.out}/index$k")))._2
    // the warm-up requests run between the first build and the repeats,
    // so the JIT finishes compiling the read path before the window opens
    val first = build(1)
    val (_, warmS) = Main.time(ops(readJson(s"${ctx.input}/requests/warmup.json"))
      .zipWithIndex.foreach { case (op, i) =>
        serve(spark, t, s"${ctx.out}/index1", op, s"warm-$i")
      })
    val builds = first +: (2 to 3).map(build)
    val index = s"${ctx.out}/index3"
    val stream = ops(readJson(s"${ctx.input}/requests/ops.json"))
    ctx.put("setup_prep_s", builds.map(_ + warmS))
    ctx.put("build_index_s", builds)

    val served = scala.collection.mutable.ArrayBuffer.empty[Served]
    val appends = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val errors = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var framesPeak = (0, 0L)
    var epochs = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    stream.zipWithIndex.foreach { case (op, i) =>
      // a traced run traces every append and every other read of each
      // kind: tracing overhead is traced minus untraced latency per kind
      if (op.kind == "append" || served.count(_.op.kind == op.kind) % 2 == 1) t.resume()
      else t.pause()
      try {
        if (op.kind == "append") {
          val batch = spark.read.parquet(s"${ctx.input}/requests/appends/${op.epoch}.parquet")
          appends += Main.time(t.span("append", "bench", s"op-$i")(
            t.span("Search.append", "Search")(
              Search.appendToSearchIndex(spark, index, batch, op.epoch))))._2
          epochs += 1
        } else {
          val q0 = System.nanoTime()
          val (rows, schema, build, exec) = serve(spark, t, index, op, s"op-$i")
          served += Served(i, op, epochs, (System.nanoTime() - q0) / 1e9, build,
            exec, rows, schema)
          traced += t.on
        }
      } catch {
        case NonFatal(e) => errors += Map("i" -> i, "kind" -> op.kind, "error" -> e.toString)
      }
      if (t.on) {
        val f = Main.framesNow(spark)
        framesPeak = (framesPeak._1.max(f._1), framesPeak._2.max(f._2))
      }
    }
    val windowS = elapsed
    t.pause()

    ctx.put("window_s", windowS)
    ctx.put("requests", served.zip(traced).map { case (s, tr) =>
      Map("i" -> s.i, "kind" -> s.op.kind, "epochs" -> s.epochs,
        "latency_s" -> s.latency, "build_s" -> s.build, "exec_s" -> s.exec,
        "traced" -> tr, "rows" -> s.rows.length,
        "sql" -> (if (s.op.kind == "aggs") Dsl.dslAggsSqlOver(s.op.body, s"docs_e${s.epochs}")
                  else Dsl.dslSqlOver(s.op.body, s"docs_e${s.epochs}")))
    })
    ctx.put("append_s", appends.toSeq)
    ctx.put("errors", errors.toSeq)
    ctx.put("frames_peak", Map("frames" -> framesPeak._1, "bytes" -> framesPeak._2))
    ctx.put("index_files_end", countFiles(new File(index)))
    // the collected pages, one parquet table per response shape, tagged
    // with the request index
    served.groupBy(_.op.kind == "aggs").foreach { case (aggs, group) =>
      val schema = group.head.schema
      group.map { s =>
        spark.createDataFrame(s.rows.toSeq.asJava, schema).withColumn("req", lit(s.i))
      }.reduce(_ unionByName _).coalesce(1)
        .write.parquet(s"${ctx.out}/responses/${if (aggs) "aggs" else "search"}")
    }
  }

  private def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0)
    else 1
}
