package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of work. `kind` is "layer" for a harness call into
  * one of the engine's modules, "job" for a Spark job (read from the
  * listener) and "plan" for the Catalyst phases of one query execution.
  * Times are epoch milliseconds; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double]) {
  def json(run: String): String = {
    val a = attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"run":${Json.str(run)},"name":${Json.str(name)},""" +
      s""""kind":${Json.str(kind)},"start_ms":${Json.num(startMs)},"end_ms":${Json.num(endMs)},"attrs":$a}"""
  }
}

/** Span recorder for a traced run. Spans stay in memory until `spans` is
  * read at the end of the run.
  *
  * The innermost open span id is a Spark local property of the calling
  * thread: it names the parent of the next span and of every job the call
  * starts. Only jobs started under a span are kept, since a traced run
  * also measures untraced operations; plan spans are counted only inside
  * a layer span.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val done = mutable.ArrayBuffer.empty[Span]

  // job id -> (parent span, start ms); stage id -> job id; job id -> metric sums
  private val openJobs = TrieMap.empty[Int, (Long, Double)]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobSums = TrieMap.empty[Int, mutable.Map[String, Double]]

  private def record(s: Span): Unit = done.synchronized { done += s }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Run `body` inside a layer span. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = sc.getLocalProperty(SpanProperty)
    val id = nextId.getAndIncrement()
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = Clock.nowMs()
    try body
    finally {
      record(Span(id, Option(parent).fold(0L)(_.toLong), name, "layer", t0, Clock.nowMs(), Map.empty))
      sc.setLocalProperty(SpanProperty, parent)
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      parent.foreach { p =>
        openJobs.put(e.jobId, (p.toLong, e.time.toDouble))
        jobSums.put(e.jobId, mutable.Map.empty[String, Double])
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobSums.get).foreach { sums =>
        def add(k: String, v: Double): Unit = sums.synchronized { sums(k) = sums.getOrElse(k, 0.0) + v }
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("result_mb", m.resultSize / 1e6)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      openJobs.remove(e.jobId).foreach { case (parent, start) =>
        val sums = jobSums.remove(e.jobId).map(s => s.synchronized(s.toMap)).getOrElse(Map.empty)
        record(Span(nextId.getAndIncrement(), parent, s"job${e.jobId}", "job", start, e.time.toDouble, sums))
      }
  }

  /** Catalyst phases of each finished query execution. The listener runs
    * on Spark's bus thread, after the fact, so the span has no parent: its
    * phase interval is attributed to the layer span that contains it.
    */
  private val planListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) record(Span(nextId.getAndIncrement(), 0L, "plan", "plan",
        ph.map(_.startTimeMs).min.toDouble, ph.map(_.endTimeMs).max.toDouble,
        Map("plan_ms" -> ph.map(_.durationMs).sum.toDouble)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** `span(name)(body)` that records only when a tracer is given. */
  final class Scope(tracer: Option[Tracer]) {
    def apply[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))
  }
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
