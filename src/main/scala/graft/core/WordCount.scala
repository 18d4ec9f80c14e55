package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Batch word count — the reference's entire batch surface re-expressed
  * Spark-first (reference: stock Hadoop WordCount invoked at
  * cluster/tools/run_fault_tests.py:25-30; counter evidence in
  * cluster/shared/reports/fault_test_20251115-181926.job.log).
  *
  * Physical shape, the reference's map/combine/shuffle/reduce:
  * FileScan -> TokenCounts (the native map-side combiner: byte-scan
  * tokenizer + per-partition count table, see graft.functions.TokenCounts)
  * -> partial HashAggregate sum -> Exchange(hash word) -> final
  * HashAggregate sum. `readTextDir -> wordCount -> writeTsv` adds a local
  * Sort and the text sink to the reduce side: 2 Spark jobs, scan+combine
  * into the hash shuffle, then final sum + sort + write.
  */
object WordCount {

  /** StringTokenizer-equivalent tokenization: maximal non-whitespace runs
    * (SURVEY §2.2 P1/P3), via the native single-pass byte-scan expression
    * (graft.functions.WhitespaceTokens) — semantically identical to
    * `filter(split(text, "\\s+"), t -> length(t) > 0)` but with no regex
    * engine and no empty tokens ever materialized; differential-tested
    * against java.util.StringTokenizer and the split-based spelling.
    */
  def tokens(text: Column): Column =
    graft.functions.WhitespaceTokens(text)

  /** The built-ins-only spelling of `tokens` (identical output), kept as
    * the no-custom-code fallback and differential check.
    */
  def tokensBuiltins(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** word -> count over a text column, in no particular order (callers
    * that need one add it, as the "wordcount" query does with
    * `orderBy("word")`; `writeTsv` sorts each part file).
    */
  def wordCount(lines: DataFrame, textCol: String): DataFrame =
    graft.functions.TokenCounts(lines, textCol)
      .groupBy("word")
      .agg(sum("n").as("cnt"))

  /** Streaming-pipeline normalization applied batch-side: uppercase before
    * counting (docs/README.md:257 "convertidas para maiúsculas"), top-k by
    * frequency (the word-cloud reading of the lab spec, SURVEY §2.4).
    * Total order: count desc, then word asc (tie-break, SURVEY §7 risk 6).
    */
  def topWords(lines: DataFrame, textCol: String, k: Int): DataFrame =
    lines
      .select(explode(tokens(col(textCol))).as("w"))
      .select(upper(col("w")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)

  /** Recursive text scan (SURVEY §2.1 S1): every text file under `dir`,
    * any nesting depth, one record per line — the reference's
    * `mapreduce.input.fileinputformat.input.dir.recursive=true` scan
    * (cluster/tools/run_fault_tests.py:28).
    */
  def readTextDir(spark: SparkSession, dir: String): Dataset[String] =
    spark.read.option("recursiveFileLookup", "true").textFile(dir)

  /** Reducer-sorted tab-separated text sink (SURVEY §2.1 S2): `word\tcount`
    * lines, the reference's TextOutputFormat contract
    * (…fault_test_20251115-181926.job.log:176). Each part file is sorted by
    * word, as each Hadoop reducer's output is under its HashPartitioner;
    * files are not ordered against each other. When the reduce side is one
    * partition (AQE coalesces a small shuffle to one), the single part file
    * is globally sorted. Default mode errors if the path exists (S3
    * output-exists guard, the reference's FileAlreadyExistsException
    * behavior); pass overwrite = true for the harness's pre-delete
    * semantics.
    */
  def writeTsv(counts: DataFrame, path: String, overwrite: Boolean = false): Unit =
    counts
      .sortWithinPartitions("word")
      .select(concat_ws("\t", col("word"), col("cnt")).as("value"))
      .write.mode(if (overwrite) "overwrite" else "errorifexists")
      .text(path)
}
