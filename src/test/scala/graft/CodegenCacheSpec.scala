package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The JVM-wide generated-code cache must hold more than a
  * micro-batch's worth of whole-stage classes (build.sbt sets
  * `spark.sql.codegen.cache.maxEntries`; Spark's default of 100 made
  * every training-prep batch recompile the ~210 classes it needs). */
class CodegenCacheSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("150 distinct whole-stage plans stay cached: re-running the " +
    "first 10 compiles nothing") {
    // each inlined literal makes a distinct generated source, so each
    // plan is one more cache entry
    def run(i: Int): Unit =
      spark.range(2).selectExpr(s"id * 7 + ${7340033 + i} AS v").collect()
    val c0 = compiles()
    (0 until 150).foreach(run)
    val c1 = compiles()
    (c1 - c0) should be >= 150L
    (0 until 10).foreach(run)
    (compiles() - c1) shouldBe 0L
  }
}
