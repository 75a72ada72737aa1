package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The engine's cache of generated classes holds a working set larger than
  * Spark's default 100 entries. A cyclic pass over more distinct generated
  * classes than that, run twice, compiles nothing the second time; with a
  * 100-entry LRU each class is evicted before the cycle comes back to it,
  * so every repeat recompiled all of them.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over 150 distinct generated classes compiles none") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // Literals are inlined into the generated code, so each query gets its
    // own whole-stage class; the tag keeps them distinct from any class an
    // earlier suite compiled.
    val tag = 1000000000000L + System.nanoTime() % 1000000000L
    def pass(): Long = {
      val c0 = compilations
      (1 to 150).foreach(i => spark.range(2).selectExpr(s"id * $i + $tag AS v").collect())
      compilations - c0
    }
    val first = pass()
    assert(first >= 150, s"first pass compiled $first classes")
    // the counter is process-wide, and a streaming query left running by an
    // earlier suite can compile at the same time: a repeat that compiled
    // something is run again, up to three repeats in all
    val repeats = scala.collection.mutable.ArrayBuffer(pass())
    while (repeats.last != 0L && repeats.size < 3) repeats += pass()
    assert(repeats.last == 0L, s"repeats compiled ${repeats.mkString(", ")} classes")
  }
}
