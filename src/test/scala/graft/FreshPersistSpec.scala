package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.FreshPersist

/** `FreshPersist` picks its cut by deployment: `localCheckpoint` on a local
  * master, a lineage-keeping `persist` off-local. The test session is
  * local, so the off-local branch runs here only through
  * `spark.graft.resilientCut=true`; both branches must return the same rows.
  */
class FreshPersistSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "perfbench/data/sf0.01"
  private val key = "spark.graft.resilientCut"

  private def resilient[T](body: => T): T = {
    spark.conf.set(key, "true")
    try body finally spark.conf.unset(key)
  }

  test("spark.graft.resilientCut selects the persist branch, unset the local checkpoint") {
    val df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    val local = FreshPersist(df)
    assert(local.storageLevel === StorageLevel.NONE)
    assert(local.queryExecution.logical.isInstanceOf[LogicalRDD])
    val cut = resilient(FreshPersist(df))
    try {
      assert(cut.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(cut.collect().toSet === local.collect().toSet)
    } finally cut.unpersist(blocking = true)
  }

  // one query per FreshPersist call site: Events, Curation, Dedup, Topics
  for (q <- Seq("q_events_corr", "pipeline_ppl_tiers", "dedup_incremental_bloom", "text_topics"))
    test(s"$q returns the same rows through either cut") {
      val run = SparkEntry.queries(q)
      val local = run(spark, dir).collect().map(_.toString).sorted.toSeq
      assert(local.nonEmpty)
      assert(resilient(run(spark, dir).collect().map(_.toString).sorted.toSeq) === local)
    }
}
