package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark process: runs one workload and writes its raw record
  * (timings, spans, correctness counts) as one JSON
  * object to `--out`. `perfbench/run.py` turns the record into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --data <dir> --out <file>
  *   Main --record <fingerprints.tsv> --cores <n> --work <dir> --data <dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opts)
    opts.get("record") match {
      case Some(path) => QueryPack.record(ctx, path)
      case None =>
        opts("workload") match {
          case "query_pack" => QueryPack.run(ctx)
          case "wordcount_ref" => WordCountRef.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        ctx.write(opts("out"))
    }
  }
}

/** Run settings plus the raw record under construction. */
final class Ctx(opts: Map[String, String]) {
  val seed: Long = opts.getOrElse("seed", "1").toLong
  val seconds: Double = opts.getOrElse("seconds", "10").toDouble
  val trace: Boolean = opts.getOrElse("trace", "0") == "1"
  val cores: Int = opts("cores").toInt
  val work: String = opts("work")
  val data: String = opts("data")

  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val fields = mutable.LinkedHashMap.empty[String, String]

  /** Count one operation; a `Some` error marks it failed. */
  def check(what: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e =>
      failed += 1
      if (problems.size < 20) problems += s"$what: $e"
      System.err.println(s"[perfbench] FAILED $what: $e")
    }
  }

  def put(key: String, json: String): Unit = fields(key) = json
  def putNum(key: String, v: Double): Unit = put(key, Json.num(v))
  def putNums(key: String, vs: Iterable[Double]): Unit = put(key, Json.arr(vs.map(Json.num)))

  def newSession(): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      // Job, stage and query history kept for the (disabled) UI would grow
      // with the number of operations a run fits in, and with it the
      // retained heap; a small cap keeps that metric about the engine.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set the engine up `rounds` times and return the last session. Each
    * round builds a fresh session and runs the workload's cold step,
    * which returns the seconds it spent generating input (excluded from
    * set-up time). Round 1 is timed from JVM start.
    */
  def setup(rounds: Int)(cold: (SparkSession, Int) => Double): SparkSession = {
    var spark: SparkSession = null
    val total, session, coldPass = mutable.ArrayBuffer.empty[Double]
    for (round <- 1 to rounds) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (round == 1) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble else Clock.nowMs()
      spark = newSession()
      val t1 = Clock.nowMs()
      val excluded = cold(spark, round)
      val t2 = Clock.nowMs()
      session += (t1 - t0) / 1e3
      coldPass += (t2 - t1) / 1e3 - excluded
      total += (t2 - t0) / 1e3 - excluded
    }
    putNums("setup_s", total)
    putNums("setup_session_s", session)
    putNums("setup_cold_s", coldPass)
    spark
  }

  /** Time `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after a full collection, in MB. Spark's context
    * cleaner frees broadcast blocks of collected plans on its own thread
    * after a collection, so collect, give it time, and collect again.
    */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def finish(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    tracer.foreach(t => put("spans", Json.arr(t.spans.map(_.json(s"${opts("workload")}-$seed")))))
    putNum("retained_heap_mb", retainedHeapMb())
    spark.stop()
  }

  def write(path: String): Unit = {
    put("attempted", attempted.toString)
    put("failed", failed.toString)
    put("problems", Json.arr(problems.map(Json.str)))
    val body = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
