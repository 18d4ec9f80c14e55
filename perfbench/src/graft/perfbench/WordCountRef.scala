package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.functions.{col, explode, lit, xxhash64}

import graft.core.WordCount
import graft.sources.CorpusGenerator

/** `wordcount_ref`: the reference's batch benchmark. The corpus is
  * `CorpusGenerator.referenceCorpus`'s line format, with the seed choosing
  * which file each line lands in and the line order inside it; each timed
  * operation is one `readTextDir -> wordCount -> writeTsv` job over it.
  */
object WordCountRef extends AdaptiveSparkPlanHelper {
  val NumFiles = 12
  val LinesPerFile = 20000
  /** Tokens per corpus line (FIXTURES.md A1). */
  val TokensPerLine = 13

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    CorpusGenerator.referenceCorpus(spark, NumFiles, LinesPerFile).toDF("value")
      .withColumn("k", xxhash64(lit(seed), col("value")))
      .repartition(NumFiles, col("k"))
      .sortWithinPartitions("k")
      .select("value")
      .write.text(dir)

  private def job(spark: SparkSession, in: String, out: String): Unit =
    WordCount.writeTsv(wordCount(spark, in), out, overwrite = true)

  private def wordCount(spark: SparkSession, in: String): DataFrame =
    WordCount.wordCount(WordCount.readTextDir(spark, in).toDF("text"), "text")

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).filter(!_.getFileName.toString.startsWith("."))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def run(ctx: Ctx): Unit = {
    val in = s"${ctx.work}/corpus"
    val out = s"${ctx.work}/counts"
    val spark = ctx.setup(rounds = 3) { (s, round) =>
      val (_, gen) = if (round == 1) ctx.timed(generate(s, in, ctx.seed)) else ((), 0.0)
      job(s, in, out)
      gen
    }
    ctx.putNum("input_bytes", dirBytes(Paths.get(in)).toDouble)
    ctx.putNum("lines", NumFiles.toDouble * LinesPerFile)

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val jobs = Seq.newBuilder[String]
    def timedJob(traced: Boolean): Double = {
      val span = new Tracer.Scope(tracer.filter(_ => traced))
      val r = scala.util.Try(ctx.timed(span("wc.job")(job(spark, in, out)))._2)
      ctx.check("wordcount job", r.failed.toOption.map(_.toString))
      r.foreach(s => jobs += Json.obj("traced" -> traced.toString, "total_s" -> Json.num(s)))
      r.getOrElse(0.0)
    }
    // A traced run alternates untraced and traced jobs (see QueryPack).
    val gc0 = ctx.gcSeconds()
    var untraced = 0
    var elapsed = 0.0
    while (untraced < 20 || elapsed < ctx.seconds) {
      elapsed += timedJob(traced = false)
      untraced += 1
      if (ctx.trace) timedJob(traced = true)
    }
    ctx.putNum("gc_s", ctx.gcSeconds() - gc0)
    if (ctx.trace) stages(ctx, spark, in, new Tracer.Scope(tracer))
    ctx.put("jobs", Json.arr(jobs.result()))

    val err = scala.util.Try(verify(spark, out)).fold(e => Some(e.toString), identity)
    ctx.check("wordcount counts", err)
    ctx.finish(spark, tracer)
  }

  /** Run `df` to completion and return its executed query. */
  private def materialize(df: DataFrame): QueryExecution = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
    qe
  }

  /** Time each successive public call by materialising its result, and
    * count the rows the partial aggregate (the combiner) passes on.
    */
  private def stages(ctx: Ctx, spark: SparkSession, in: String, span: Tracer.Scope): Unit = {
    val rows = (1 to 5).map { _ =>
      val lines = WordCount.readTextDir(spark, in).toDF("text")
      val tokens = lines.select(explode(WordCount.tokens(col("text"))).as("word"))
      val counts = WordCount.wordCount(lines, "text")
      val (_, scan) = ctx.timed(span("wc.scan")(materialize(lines)))
      val (_, tok) = ctx.timed(span("wc.tokenize")(materialize(tokens)))
      val (qe, agg) = ctx.timed(span("wc.aggregate")(materialize(counts)))
      val (_, all) = ctx.timed(span("wc.sink")(
        WordCount.writeTsv(counts, s"${ctx.work}/stage-counts", overwrite = true)))
      val combined = collect(qe.executedPlan) {
        case h: HashAggregateExec if h.aggregateExpressions.nonEmpty &&
            h.aggregateExpressions.forall(_.mode == Partial) => h.metrics("numOutputRows").value
      }.sum
      Json.obj("scan_s" -> Json.num(scan), "tokenize_s" -> Json.num(tok - scan),
        "aggregate_s" -> Json.num(agg - tok), "sink_s" -> Json.num(all - agg),
        "combine_ratio" -> Json.num(combined.toDouble / (TokensPerLine.toLong * NumFiles * LinesPerFile)))
    }
    ctx.put("stages", Json.arr(rows))
  }

  /** Every count in `out` against `CorpusGenerator.expectedCounts`. */
  private def verify(spark: SparkSession, out: String): Option[String] = {
    val expected = CorpusGenerator.expectedCounts(NumFiles, LinesPerFile)
    val got = spark.read.option("sep", "\t").csv(out).collect()
      .map(r => r.getString(0) -> r.getString(1).toLong).toMap
    if (got.size != expected.size) Some(s"${got.size} distinct words, expected ${expected.size}")
    else expected.find { case (w, c) => !got.get(w).contains(c) }
      .map { case (w, c) => s"count of $w is ${got.get(w)}, expected $c" }
  }
}
