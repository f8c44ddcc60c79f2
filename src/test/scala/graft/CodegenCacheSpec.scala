package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is compiled once per JVM, whatever session runs it (see
  * [[GraftSession]]'s object doc): a registered query rerun in a fresh
  * `newSession()` of the same context finds every class it needs in the
  * codegen cache. The count read is Spark's own compile counter, which
  * only a cache miss advances. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  /** The registered queries behind the seven perfbench units: about 240
    * codegen cache entries together, more than Spark's default 100 hold,
    * so the first one's classes are evicted unless the cache is larger.
    * The first one's plans are the same in every build; some later ones'
    * are not (AQE may pick the other broadcast side or number codegen
    * stages in another order, and the optimizer may order
    * `decontaminate`'s two distinct aggregates either way), so a rerun of
    * those can compile a class for the variant. */
  private val perfbenchUnits = Seq(
    "pipeline_e1_summary", "pipeline_caption", "pipeline_frame_mining_oracle",
    "pipeline_bg_curation_oracle", "dedup_soft_weights", "dedup_representative",
    "decontaminate")

  /** Build and execute `query` in a fresh session; the classes compiled. */
  private def compilesOfRun(query: String): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(query)(spark.newSession(), sf)
      .write.mode("overwrite").format("noop").save()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a query rerun in a second session compiles no generated class") {
    compilesOfRun(perfbenchUnits.head)
    assert(compilesOfRun(perfbenchUnits.head) == 0)
  }

  test("the perfbench units' classes all stay cached: the first unit reruns with no compile") {
    perfbenchUnits.foreach(compilesOfRun)
    assert(compilesOfRun(perfbenchUnits.head) == 0)
  }
}
