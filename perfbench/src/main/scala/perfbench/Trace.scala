package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the span
  * open on the same thread when this one started (0 = none); spans of
  * one request share `req`. Times are System.nanoTime for durations and
  * wall-clock milliseconds for lining spans up with Spark's own
  * millisecond timestamps (Catalyst phases, streaming progress). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    req: String, t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long)

/** In-memory spans plus Spark listener counts, written out at the end.
  *
  * Off (the end-to-end runs), `span` only runs its body: no span is
  * kept, no job group is set and no listener is registered. On, each
  * span also becomes the calling thread's Spark job group, so the jobs
  * and stages it fires are attributed to it, and every finished query
  * execution's Catalyst phases (`QueryExecution.tracker`) are kept with
  * their wall-clock start and end. An enabled tracer can be paused, so a
  * traced run can time a stretch of the same work untraced and report
  * the difference as the tracing overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  // the local property SparkContext.setJobGroup sets
  private val JobGroup = "spark.jobGroup.id"
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private def sc: SparkContext = spark.sparkContext

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty(JobGroup))).getOrElse("")
      e.stageIds.foreach(s => stageGroup.putIfAbsent(s, group))
      jobs.add(Map("job" -> e.jobId, "group" -> group, "t0_ms" -> e.time,
        "stages" -> e.stageIds.size))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val group = Option(stageGroup.get(i.stageId)).getOrElse("")
      if (m != null)
        stages.add(Map("stage" -> i.stageId, "group" -> group, "tasks" -> i.numTasks,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "run_ms" -> m.executorRunTime, "t0_ms" -> i.submissionTime.getOrElse(0L),
          "t1_ms" -> i.completionTime.getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)
    private def record(func: String, qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.add(Map("qe" -> qe.id, "func" -> func, "phase" -> phase,
          "t0_ms" -> s.startTimeMs, "t1_ms" -> s.endTimeMs))
      }
  }

  @volatile private var active = false
  def on: Boolean = active

  def resume(): Unit = if (enabled && !active) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  def pause(): Unit = if (active) {
    active = false
    org.apache.spark.graftbench.BenchBridge.drainListeners(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  resume()

  /** Time `body` as a span of `layer`; the innermost open span of this
    * thread is its parent and its request id is inherited when `req` is
    * empty. */
  def span[T](name: String, layer: String, req: String = "")(body: => T): T =
    if (!active) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(0L)
      val r = if (req.nonEmpty) req else reqOf(parent)
      val prevGroup = sc.getLocalProperty(JobGroup)
      sc.setLocalProperty(JobGroup, s"pb-$id")
      reqs.put(id, r)
      stack.set(id :: outer)
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, name, layer, r, t0, t1, t0Ms, System.currentTimeMillis()))
        stack.set(outer)
        sc.setLocalProperty(JobGroup, prevGroup)
      }
    }

  private val reqs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private def reqOf(id: Long): String = Option(reqs.get(id)).getOrElse("")

  /** Stop listening and write spans, jobs, stages and Catalyst phases as
    * JSON lines under `dir`. */
  def finish(dir: String): Unit = if (enabled) {
    pause()
    def dump(name: String, rows: Iterable[Map[String, Any]]): Unit = {
      val w = new PrintWriter(s"$dir/$name")
      try rows.foreach(r => w.println(Main.json(r))) finally w.close()
    }
    dump("spans.jsonl", spans.asScala.toSeq.sortBy(_.t0Ms).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "req" -> s.req, "dur_s" -> (s.t1Ns - s.t0Ns) / 1e9, "t0_ms" -> s.t0Ms,
        "t1_ms" -> s.t1Ms)
    })
    dump("jobs.jsonl", jobs.asScala)
    dump("stages.jsonl", stages.asScala)
    dump("phases.jsonl", phases.asScala)
  }
}
