package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Spark's generated-class cache must hold graft's working set: a
  * workload that cycles through more classes than Spark's default 100
  * entries compiles each class once, not once per pass (see the `Graft`
  * scaladoc). */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Janino compilations in this JVM so far: Spark records one compile
    * time per generated-class cache miss. */
  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("graft's session sizes the generated-class cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.codegenCacheEntries.toString)
  }

  test("a working set above 100 generated classes compiles once, not per pass") {
    // 150 plans rebuilt every pass, as a pipeline rebuilds its DataFrames
    // per operation. Each code body differs only in an inlined constant no
    // other spec uses, so every class is new to this JVM on the first pass.
    val shapes = 150
    def pass(): Long = {
      val before = compilations
      (0 until shapes).foreach { k =>
        spark.range(0, 8, 1, 1).select((col("id") * lit(9176011L + k)).as("y")).collect()
      }
      compilations - before
    }
    val first = pass()
    val second = pass()
    info(s"compilations: first pass $first, second pass $second")
    assert(first > 100, s"first pass compiled $first classes; want > 100")
    assert(second <= first * 0.15,
      s"second pass recompiled $second of the first pass's $first classes")
  }
}
