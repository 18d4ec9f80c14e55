package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Relational

/** TPC-H keys are INTEGER in the committed tables, but a generator may
  * write them as BIGINT; queries must not assume the narrower type.
  */
class KeyTypeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val src = "perfbench/data/sf0.01"

  test("q7 over bigint nation keys returns the int run's rows") {
    val dir = Files.createTempDirectory("graft-bigint-keys").toString
    val widened = Map(
      "nation" -> "n_nationkey", "supplier" -> "s_nationkey", "customer" -> "c_nationkey")
    for (n <- Seq("nation", "supplier", "customer", "orders", "lineitem")) {
      val t = Tables.load(spark, src, n)
      widened.get(n).fold(t)(k => t.withColumn(k, t(k).cast("bigint")))
        .write.parquet(s"$dir/$n.parquet")
    }
    assert(Tables.load(spark, dir, "nation").schema("n_nationkey").dataType.typeName === "long")
    val ints = Relational.q7NationVolume(spark, src).collect().toSeq
    assert(ints.nonEmpty)
    assert(Relational.q7NationVolume(spark, dir).collect().toSeq === ints)
  }
}
