package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.WordCount
import graft.sources.CorpusGenerator

/** Like-for-like replication of the reference's ONLY published benchmark:
  * stock Hadoop WordCount over the 12x3,000,000-line synthetic corpus
  * (generate_wordcount_data.sh), ~4.05 GiB of text, which took ~570 s on
  * the reference's 3-container cluster (~7.5 MB/s; BASELINE.md).
  *
  * This main generates the corpus in the reference's exact line format,
  * writes it as text files, then times the full batch dataflow — recursive
  * text scan -> map-side token combine -> hash shuffle -> final sum ->
  * per-part sort -> TSV sink — validates the counts against the
  * closed-form expectation, prints the number of Spark jobs the timed run
  * used, and deletes the corpus and output on exit.
  * Usage: RefBench [files] [linesPerFile] (defaults 12 x 3,000,000).
  */
object RefBench {
  def main(args: Array[String]): Unit = {
    val files = if (args.length > 0) args(0).toInt else 12
    val lines = if (args.length > 1) args(1).toInt else 3000000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Files.createTempDirectory("graft-refbench")
    val inDir = base.resolve("in").toString
    val outDir = base.resolve("out").toString
    val sc = spark.sparkContext
    try {
      // Stage the corpus as `files` text files (not measured: the reference
      // pre-stages to HDFS before its timed run too).
      CorpusGenerator.referenceCorpus(spark, files, lines)
        .repartition(files).write.text(inDir)
      val inputBytes = dirBytes(Paths.get(inDir))

      sc.setJobGroup("refbench-timed", "timed WordCount")
      val t0 = System.nanoTime()
      val counts = WordCount.wordCount(
        WordCount.readTextDir(spark, inDir).toDF("text"), "text")
      WordCount.writeTsv(counts, outDir, overwrite = true)
      val sec = (System.nanoTime() - t0) / 1e9

      // validation: distinct words = 11 fixed + files idx + lines linha
      sc.setJobGroup("refbench-check", "validation")
      val outRows = spark.read.option("sep", "\t").csv(outDir).count()
      sc.clearJobGroup()
      val expectedDistinct = 11L + files + lines
      val ok = outRows == expectedDistinct
      val mbps = inputBytes / 1e6 / sec
      println(s"""{"metric":"refbench_wordcount","input_bytes":$inputBytes,""" +
        s""""files":$files,"lines_per_file":$lines,"seconds":$sec,""" +
        s""""mb_per_sec":$mbps,"distinct_words":$outRows,"valid":$ok,""" +
        s""""spark_jobs":${timedJobs(sc)}}""")
    } finally {
      spark.stop()
      deleteTree(base)
    }
  }

  /** Jobs the timed run launched. The status store takes job events in
    * order, so once the validation job is listed every timed job is too.
    */
  private def timedJobs(sc: org.apache.spark.SparkContext): Int = {
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup("refbench-check").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup("refbench-timed").length
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
