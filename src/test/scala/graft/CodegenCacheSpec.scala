package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated-code reuse: a repeated round of the curate queries finds its
  * generated classes in Spark's codegen cache instead of recompiling them.
  * With Spark's defaults the ~100 classes of one round evicted each other
  * from the 100-entry cache, and AQE-ordered stage ids in class names made
  * identical stages miss; GraftSession sizes the cache and drops the ids. */
class CodegenCacheSpec extends SparkSpec {
  private val curate = Seq("q_llm_pipeline", "q_dedup_minhash", "q_llm_pipeline5", "q_kn_perplexity")

  /** Generated classes compiled (cache misses) while running `curate` once. */
  private def compiledByRound(): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    curate.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("the session carries the codegen cache confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a repeated round of the curate queries compiles (almost) no generated class") {
    val first = compiledByRound()
    val second = compiledByRound()
    // warm repeats compile 0 here; the bound leaves room for one stage
    // (driver + executor class) whose plan legitimately changes
    assert(second <= 2, s"round 1 compiled $first classes, round 2 compiled $second")
  }
}
