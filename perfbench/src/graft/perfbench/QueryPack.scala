package graft.perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.{SparkEntry, Tuning}

/** `query_pack`: SparkEntry queries over the committed sf0.01 tables, one
  * at a time into the `noop` sink, closed loop with one client.
  */
object QueryPack {

  /** Queries whose values depend on shuffle arrival order: checked by row
    * count only.
    */
  val Sketch: Set[String] = Set("q_events_daily_active_approx", "q_order_percentiles_approx",
    "text_heavyhitters_sketch")

  def family(name: String): String =
    if (name.startsWith("wordcount")) "wordcount"
    else if (name.startsWith("q_events_")) "events"
    else if (name.startsWith("q")) "relational"
    else if (name.startsWith("dedup_")) "dedup"
    else if (name.startsWith("ann_") || name.startsWith("emb_")) "similarity"
    else if (name.startsWith("text_")) "text"
    else if (name.startsWith("pipeline_")) "pipeline"
    else if (name.startsWith("mm_")) "mm"
    else sys.error(s"query $name has no family")

  /** Order-independent fingerprint of a result: row count plus the sum of
    * per-row hashes ("sketch" in place of the sum for sketch queries).
    */
  def fingerprint(name: String, rows: Array[Row]): String = {
    val h = if (Sketch(name)) "sketch"
      else rows.map(r => MurmurHash3.stringHash(r.toString).toLong).sum.toString
    s"${rows.length}\t$h"
  }

  private def readTsv(path: String): Seq[(String, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
    }.toList

  /** The queries this workload runs, one per line of `pack.txt`. */
  def pack(ctx: Ctx): Seq[String] =
    scala.io.Source.fromFile(s"${ctx.data}/pack.txt", "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList

  def run(ctx: Ctx): Unit = {
    val expected = readTsv(s"${ctx.data}/fingerprints.tsv").toMap
    val names = pack(ctx)
    // A fresh copy of the tables per round, so SparkEntry's per-directory
    // model and index caches miss and every round pays the cold path.
    def dir(round: Int) = s"${ctx.work}/tables-$round"
    val rounds = 3
    var indexTables = 0.0
    val cold = Seq.newBuilder[String]
    val spark = ctx.setup(rounds) { (s, round) =>
      Tuning.configureForInput(s, dir(round))
      names.foreach { n =>
        val (got, sec) = ctx.timed(scala.util.Try(fingerprint(n, SparkEntry.queries(n)(s, dir(round)).collect())))
        val err = got.fold(e => Some(e.toString),
          fp => if (expected.get(n).contains(fp)) None else Some(s"fingerprint $fp, expected ${expected.get(n)}"))
        ctx.check(s"$n (round $round)", err)
        cold += Json.obj("name" -> Json.str(n), "round" -> round.toString, "s" -> Json.num(sec))
      }
      indexTables = s.catalog.listTables().collect().count(!_.isTemporary).toDouble
      0.0
    }
    ctx.putNum("index_tables", indexTables)
    ctx.put("cold_ops", Json.arr(cold.result()))

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val rnd = new Random(ctx.seed)
    val ops = Seq.newBuilder[String]
    var passNo = 0
    def pass(traced: Boolean): Double = {
      val span = new Tracer.Scope(tracer.filter(_ => traced))
      val (_, sec) = ctx.timed(for (n <- rnd.shuffle(names)) {
        val fn = SparkEntry.queries(n)
        val r = scala.util.Try {
          span(s"query:$n") {
            val (df, build) = ctx.timed(span(s"build:$n")(fn(spark, dir(rounds))))
            val (_, exec) = ctx.timed(span(s"exec:$n")(df.write.format("noop").mode("overwrite").save()))
            (build, exec)
          }
        }
        ctx.check(n, r.failed.toOption.map(_.toString))
        r.foreach { case (build, exec) =>
          ops += Json.obj("name" -> Json.str(n), "family" -> Json.str(family(n)),
            "pass" -> passNo.toString, "traced" -> traced.toString,
            "build_s" -> Json.num(build), "exec_s" -> Json.num(exec))
        }
      })
      passNo += 1
      sec
    }
    // A traced run alternates untraced and traced passes, so both see the
    // same JIT and cache state and their difference is the tracing cost.
    val gc0 = ctx.gcSeconds()
    var untraced = 0
    var elapsed = 0.0
    while (untraced < 3 || elapsed < ctx.seconds) {
      elapsed += pass(traced = false)
      untraced += 1
      if (ctx.trace) pass(traced = true)
    }
    ctx.putNum("gc_s", ctx.gcSeconds() - gc0)
    ctx.put("ops", Json.arr(ops.result()))
    ctx.finish(spark, tracer)
  }

  /** Write the fingerprint of every SparkEntry query to `path`. */
  def record(ctx: Ctx, path: String): Unit = {
    val spark = ctx.newSession()
    val tables = s"${ctx.data}/sf0.01"
    Tuning.configureForInput(spark, tables)
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val (rows, sec) = ctx.timed(SparkEntry.queries(n)(spark, tables).collect())
      System.err.println(f"[record] $n%-40s $sec%.3f s")
      s"$n\t${fingerprint(n, rows)}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
