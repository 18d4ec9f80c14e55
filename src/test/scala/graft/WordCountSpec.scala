package graft

import java.nio.file.Files
import java.util.StringTokenizer

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.WordCount
import graft.sources.CorpusGenerator

class WordCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("golden fixture: reference-format corpus matches closed-form counts") {
    val files = 3; val lines = 100
    val corpus = CorpusGenerator.referenceCorpus(spark, files, lines).toDF("text")
    val got = WordCount.wordCount(corpus, "text").as[(String, Long)].collect().toMap
    val expected = CorpusGenerator.expectedCounts(files, lines)
    assert(got === expected)
    assert(got.values.sum === 13L * files * lines) // 13 tokens per line
  }

  test("tokenizer matches java.util.StringTokenizer on messy whitespace") {
    val rnd = new Random(42)
    val alphabet = "ab \t\n  c"
    val samples = Seq("", " ", "  a  b ", "\ta\nb\r c\f", "a") ++
      (1 to 200).map(_ => (1 to rnd.nextInt(20)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val got = samples.toDF("text")
      .select(WordCount.tokens(col("text")).as("toks"))
      .as[Seq[String]].collect()
    samples.zip(got).foreach { case (s, toks) =>
      val st = new StringTokenizer(s) // default delims: " \t\n\r\f"
      val exp = mutable.Buffer[String]()
      while (st.hasMoreTokens) exp += st.nextToken()
      assert(toks === exp.toSeq, s"input=${s.replace("\n", "\\n")}")
    }
  }

  test("property: tokenizer invariants hold for arbitrary strings (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    import org.scalacheck.Test.{check, Parameters}
    // strings over a hostile alphabet: ascii, all six \s chars, multi-byte,
    // astral — the byte-scan kernel must agree with the regex spelling and
    // never emit empty or whitespace-containing tokens
    val frag: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(4)),
      Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r"),
      Gen.oneOf("\u00e9", "\u00df", "\u6f22\u5b57", "\ud83d\ude42"))
    val hostile = Gen.listOf(frag).map(_.mkString)
    val prop: Prop = forAll(hostile) { s =>
      val toks = Seq(s).toDF("text")
        .select(WordCount.tokens(col("text"))).as[Seq[String]].head()
      val ref = Seq(s).toDF("text")
        .select(WordCount.tokensBuiltins(col("text"))).as[Seq[String]].head()
      toks == ref &&
        toks.forall(t => t.nonEmpty && !t.exists(" \t\n\u000b\f\r".contains(_))) &&
        toks.map(_.length).sum <= s.length
    }
    val result = check(Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result.status.toString)
  }

  test("TokenCount counts exactly what WhitespaceTokens emits (hostile strings)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    import org.scalacheck.Test.{check, Parameters}
    val frag: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(4)),
      Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r"),
      Gen.oneOf("é", "ß", "漢字", "🙂"))
    val hostile = Gen.listOf(frag).map(_.mkString)
    val prop: Prop = forAll(hostile) { s =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      graft.functions.TokenCount.compute(u) ==
        graft.functions.WhitespaceTokens.compute(u).numElements()
    }
    val result = check(Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result.status.toString)
  }

  test("TokenCountRewrite replaces size(tokens(x)) with the allocation-free count") {
    // TestSpark is built through Tables.configure, which attaches the
    // extensions — so the rule applies to the shared session's optimizer.
    // A parquet-backed input keeps ConstantFolding from collapsing the
    // whole expression (a literal LocalRelation folds at plan time).
    val docsDf: org.apache.spark.sql.DataFrame =
      graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val df = docsDf.select(org.apache.spark.sql.functions.size(
        WordCount.tokens(col("text"))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(optimized.contains("tokencount"),
      s"rewrite did not fire:\n$optimized")
    assert(!optimized.contains("whitespacetokens"),
      s"token array still materialized:\n$optimized")
    // identical counts to the regex built-ins spelling (never rewritten)
    val viaBuiltins = docsDf.select(org.apache.spark.sql.functions.size(
        WordCount.tokensBuiltins(col("text"))).as("n"))
    assert(df.as[Int].collect().toSeq === viaBuiltins.as[Int].collect().toSeq)
    // null propagates (non-legacy size semantics preserved)
    val withNull = Seq[String]("a b", null).toDF("text")
      .select(org.apache.spark.sql.functions.size(
        WordCount.tokens(col("text"))).as("n"))
    assert(withNull.collect().map(r => if (r.isNullAt(0)) -999 else r.getInt(0)).toSeq
      === Seq(2, -999))
  }

  test("native tokenizer matches the split-based spelling incl. vertical tab") {
    val rnd = new Random(7)
    val alphabet = "xy \t\n\u000b\f\r z"
    val samples = Seq("", " ", "", "ab", " a ", "a  b\tc\nd") ++
      (1 to 300).map(_ => (1 to rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = samples.toDF("text")
    val native = df.select(WordCount.tokens(col("text"))).as[Seq[String]].collect().toSeq
    val builtins = df.select(WordCount.tokensBuiltins(col("text"))).as[Seq[String]].collect().toSeq
    assert(native === builtins)
  }

  test("topWords uppercases and tie-breaks by word after count desc") {
    val df = Seq("b a", "B A", "c").toDF("text")
    val top = WordCount.topWords(df, "text", 10).as[(String, Long)].collect().toSeq
    assert(top === Seq(("A", 2L), ("B", 2L), ("C", 1L)))
  }

  /** Single-threaded reference count via StringTokenizer — the stock
    * WordCount's exact tokenizer semantics — for differential testing.
    */
  private def referenceCounts(lines: Seq[String]): Map[String, Long] = {
    val m = mutable.Map[String, Long]().withDefaultValue(0L)
    for (l <- lines) {
      val st = new StringTokenizer(l)
      while (st.hasMoreTokens) m(st.nextToken()) += 1L
    }
    m.toMap
  }

  test("natural-text fixture: Spark counts match a StringTokenizer reference count") {
    val url = getClass.getResource("/natural_corpus.txt")
    assert(url != null, "natural_corpus.txt fixture missing from test resources")
    val lines = scala.io.Source.fromURL(url).getLines().toSeq
    assert(lines.size === 27)
    val expected = referenceCounts(lines)
    val got = WordCount.wordCount(lines.toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    assert(got === expected)
    // natural-text distribution sanity: a Zipf-ish head exists
    assert(expected("the") > 20L)
  }

  /** Exact counts by the regex spelling: maximal runs of non-`\s`. */
  private def regexCounts(lines: Seq[String]): Map[String, Long] =
    lines.filter(_ != null).flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  /** Lines over a hostile alphabet: ASCII, all six whitespace bytes,
    * 2-, 3- and 4-byte UTF-8, and a small vocabulary so words repeat.
    */
  private def hostileLines(seed: Int, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    val frags = Seq("a", "b", "ab", "ba", "w1", "w2", " ", "\t", "\n", "\u000b", "\f", "\r",
      "\u00e9", "\u00df", "\u6f22\u5b57", "\ud83d\ude42")
    (1 to n).map(_ => (1 to rnd.nextInt(30)).map(_ => frags(rnd.nextInt(frags.size))).mkString)
  }

  test("wordCount (native combiner) matches explode(tokensBuiltins) + groupBy.count") {
    val url = getClass.getResource("/natural_corpus.txt")
    val natural = scala.io.Source.fromURL(url).getLines().toSeq
    val longToken = "L" * (graft.functions.TokenCounter.InitialArenaBytes * 3)
    val lines: Seq[String] = hostileLines(11, 400) ++ natural ++
      Seq(null, "", " \t\n\u000b\f\r ", s"$longToken x $longToken", "\u00e9\u00e9 \u00e9\u00e9", null)
    // several partitions, so the final sum merges partial counts
    val df = lines.toDF("text").repartition(3)
    val got = WordCount.wordCount(df, "text").as[(String, Long)].collect()
    val viaBuiltins = df.select(explode(WordCount.tokensBuiltins(col("text"))).as("word"))
      .groupBy("word").count().as[(String, Long)].collect().toMap
    assert(got.length === got.map(_._1).distinct.length, "a word appears twice in the final counts")
    assert(got.toMap === viaBuiltins)
    assert(got.toMap === regexCounts(lines))
    assert(got.toMap.apply(longToken) === 2L)
  }

  test("TokenCounter flush path: a tiny key bound emits duplicate partial keys that sum exactly") {
    import org.apache.spark.unsafe.types.UTF8String
    val longToken = "\u6f22" * graft.functions.TokenCounter.InitialArenaBytes
    val lines: Seq[String] = hostileLines(5, 200) ++ Seq(null, "", s"a $longToken b $longToken")
    val batches = mutable.Buffer[(Long, Int, Boolean)]()
    val rows = new graft.functions.TokenCounter(maxKeys = 3)
      .counts(lines.iterator.map(l => if (l == null) null else UTF8String.fromString(l)),
        (tokens, keys, full) => batches += ((tokens, keys, full)))
      .map(r => r.getUTF8String(0).toString -> r.getLong(1)).toList
    val summed = rows.groupMapReduce(_._1)(_._2)(_ + _)
    assert(summed === regexCounts(lines))
    assert(rows.size > summed.size, "the flush path never emitted a key twice")
    assert(batches.count(_._3) > 1, s"expected several full-table flushes: $batches")
    assert(batches.forall(_._2 <= 3))
    assert(batches.map(_._2).sum === rows.size)
    assert(batches.map(_._1).sum === summed.values.sum)
  }

  test("writeTsv(wordCount) runs as 2 jobs over one hash exchange, no range partitioning") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val base = Files.createTempDirectory("graft-wc-shape")
    val in = base.resolve("in").toString
    CorpusGenerator.referenceCorpus(spark, 3, 200).repartition(3).write.text(in)
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setJobGroup("wc-shape", "writeTsv(wordCount)")
      WordCount.writeTsv(WordCount.wordCount(
        WordCount.readTextDir(spark, in).toDF("text"), "text"), base.resolve("out").toString)
      // Both listeners share one in-order queue: once the marker job is
      // seen, every event of the write has been delivered.
      sc.setJobGroup("wc-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("wc-marker") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    val helper = new AdaptiveSparkPlanHelper {}
    val exchanges = plans.asScala.toSeq.flatMap(p =>
      helper.collect(p) { case e: ShuffleExchangeExec => e.outputPartitioning })
    val shown = plans.asScala.mkString("\n")
    assert(exchanges.size === 1, s"expected one shuffle:\n$shown")
    assert(exchanges.head.isInstanceOf[HashPartitioning], shown)
    assert(!shown.toLowerCase.contains("rangepartitioning"), shown)
    // the combiner's own metrics: every token in, far fewer rows out
    val combiner = plans.asScala.toSeq.flatMap(p =>
      helper.collect(p) { case c: graft.functions.TokenCountsExec => c.metrics })
    assert(combiner.size === 1, shown)
    assert(combiner.head("numInputTokens").value === 13L * 3 * 200)
    assert(combiner.head("numOutputRows").value > 0L)
    assert(combiner.head("numOutputRows").value < 13L * 3 * 200 / 2)
    assert(combiner.head("numFlushes").value === 0L)
    assert(groups.asScala.count(_ == "wc-shape") === 2, s"jobs by group: $groups")
    val back = WordCount.readTextDir(spark, base.resolve("out").toString).collect()
      .map { l => val Array(w, c) = l.split("\t"); w -> c.toLong }.toMap
    assert(back === CorpusGenerator.expectedCounts(3, 200))
  }

  test("readTextDir scans nested directories recursively (S1)") {
    val root = Files.createTempDirectory("graft-scan")
    Files.createDirectories(root.resolve("a/b"))
    Files.write(root.resolve("top.txt"), "alpha beta".getBytes)
    Files.write(root.resolve("a/mid.txt"), "beta gamma".getBytes)
    Files.write(root.resolve("a/b/deep.txt"), "gamma delta".getBytes)
    val counts = WordCount.wordCount(
      WordCount.readTextDir(spark, root.toString).toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    assert(counts === Map("alpha" -> 1L, "beta" -> 2L, "gamma" -> 2L, "delta" -> 1L))
  }

  test("writeTsv round-trips sorted word\\tcount lines and guards existing output (S2/S3)") {
    val out = Files.createTempDirectory("graft-tsv").resolve("wc-out").toString
    val corpus = CorpusGenerator.referenceCorpus(spark, 2, 50).toDF("text")
    WordCount.writeTsv(WordCount.wordCount(corpus, "text"), out)
    // round-trip: parse word\tcount back and compare with closed form
    val back = WordCount.readTextDir(spark, out).collect()
      .map { l => val Array(w, c) = l.split("\t"); w -> c.toLong }.toMap
    assert(back === CorpusGenerator.expectedCounts(2, 50))
    // file contents are sorted within each part file (reducer-sorted sink)
    val files = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    for (f <- files) {
      val words = Files.readAllLines(f).asScala.map(_.split("\t")(0)).toSeq
      assert(words === words.sorted, s"unsorted part file $f")
    }
    // S3: default mode refuses to clobber existing output
    intercept[Exception] {
      WordCount.writeTsv(WordCount.wordCount(corpus, "text"), out)
    }
    // harness-style overwrite succeeds
    WordCount.writeTsv(WordCount.wordCount(corpus, "text"), out, overwrite = true)
  }
}
