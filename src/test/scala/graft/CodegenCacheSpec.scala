package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine session's codegen cache holds more than one query's worth
  * of generated classes: a query re-run after >100 other distinct classes
  * were compiled reuses its own classes instead of recompiling them
  * (Spark's default cache of 100 entries would have evicted them). */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query re-run after 150 other generated classes compiles nothing") {
    def query(): Seq[(Long, Long)] =
      spark.range(0L, 1000L, 1L, 2).selectExpr("id % 13 AS k", "id * 3 AS v")
        .where(col("v") % 7 =!= 1).groupBy("k").agg(sum("v").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    val first = query()
    // 150 distinct projections: inlined literals make each generated
    // class's source, and so its cache key, unique. Building the RDD
    // compiles the stage on the driver without running a job.
    val before = compiles
    (1 to 150).foreach { i =>
      spark.range(0L, 10L, 1L, 1).selectExpr(s"id * ${i}L + ${i * 7}L AS c").queryExecution.toRdd
    }
    assert(compiles - before >= 100, s"filler compiled only ${compiles - before} classes")

    val beforeRerun = compiles
    val again = query()
    assert(again == first)
    assert(compiles == beforeRerun,
      s"the re-run recompiled ${compiles - beforeRerun} classes: its generated code " +
        s"was evicted from the codegen cache")
  }
}
