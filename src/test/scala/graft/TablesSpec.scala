package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load`'s schema resolver: one Parquet schema inference (one
  * Spark job) per session and file version, never a cached DataFrame.
  * Every test loads from a fresh copy of the committed sf0.01 tables, so no
  * other suite's loads can have warmed the cache for its paths.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val src = Paths.get("perfbench/data/sf0.01")
  private val groups = new AtomicInteger

  /** A fresh directory holding byte-identical copies of `names`. */
  private def copyOf(names: String*): String = {
    val dir = Files.createTempDirectory("graft-tables")
    names.foreach(n => Files.copy(src.resolve(s"$n.parquet"), dir.resolve(s"$n.parquet")))
    dir.toString
  }

  /** Spark jobs `body` launches, counted through its job group: once the
    * status tracker shows a later marker job, every job of the body has
    * been recorded.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${groups.incrementAndGet()}"
    try {
      sc.setJobGroup(group, "Tables.load")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  test("the second load of a table in a session runs no Spark job") {
    val dir = copyOf("nation")
    assert(jobsOf(Tables.load(spark, dir, "nation")) >= 1, "the first load infers")
    assert(jobsOf(Tables.load(spark, dir, "nation")) === 0, "the second load re-inferred")
    assert(Tables.load(spark, dir, "nation").count() === 25L)
  }

  test("the cached schema is the one spark.read.parquet infers") {
    val dir = copyOf(Tables.names: _*)
    for (n <- Tables.names) {
      val path = s"$dir/$n.parquet"
      Tables.schemaOf(spark, path) // warm
      assert(Tables.schemaOf(spark, path) === spark.read.parquet(path).schema, n)
    }
  }

  test("a file rewritten at the same path with a new schema is re-inferred") {
    val dir = copyOf("nation")
    val target = Paths.get(dir, "nation.parquet")
    assert(Tables.load(spark, dir, "nation").columns.contains("n_nationkey"))
    assert(jobsOf(Tables.load(spark, dir, "nation")) === 0)
    Files.copy(src.resolve("region.parquet"), target, StandardCopyOption.REPLACE_EXISTING)
    val reread = Tables.load(spark, dir, "nation")
    assert(reread.schema === spark.read.parquet(src.resolve("region.parquet").toString).schema)
    assert(sorted(reread.collect()) ===
      sorted(Tables.load(spark, src.toString, "region").collect()))
  }

  test("an added file or a changed inference conf is re-inferred") {
    val dir = Files.createTempDirectory("graft-tables").toString
    import spark.implicits._
    Seq(1, 2).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    assert(jobsOf(Tables.load(spark, dir, "t")) === 0)
    Seq((3, "x")).toDF("a", "b").write.mode("append").parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.load(spark, dir, "t")) >= 1, "an added file kept the old stamp")
    assert(Tables.load(spark, dir, "t").count() === 3L)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a", "b"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("two loads of one table self-join without ambiguity") {
    val dir = copyOf("nation")
    val a = Tables.load(spark, dir, "nation")
    val b = Tables.load(spark, dir, "nation")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val joined = a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
    // 5 regions of 5 nations each: C(5, 2) = 10 pairs per region
    assert(joined.count() === 5L * 10)
  }

  test("events.ts is identical on a cache miss and a cache hit") {
    val dir = copyOf("events")
    val miss = Tables.load(spark, dir, "events")
    val hit = Tables.load(spark, dir, "events")
    assert(miss.schema("ts").dataType === TimestampType)
    assert(hit.schema === miss.schema)
    assert(sorted(hit.collect()) === sorted(miss.collect()))
  }

  test("a fresh session infers again") {
    val dir = copyOf("nation")
    Tables.load(spark, dir, "nation")
    assert(jobsOf(Tables.load(spark, dir, "nation")) === 0)
    val fresh = spark.newSession()
    assert(jobsOf(Tables.load(fresh, dir, "nation")) >= 1, "a new session reused another's schema")
    assert(jobsOf(Tables.load(fresh, dir, "nation")) === 0)
  }
}
