package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf

/** The engine's extension sizes Spark's JVM-wide compiled-class cache for
  * the pipeline's working set, so a repeated sweep reuses generated code
  * instead of recompiling it.
  */
class CodegenCacheSpec extends SparkSpec {

  private val pipeline = Seq("p09_qc_sample_filter", "k06_bmiq_normalize",
    "k05_combat_adjust", "k03_dmp_moderated", "k01_pca_scaled")

  private def sweep(): Unit = pipeline.foreach { q =>
    try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect()
    finally ops.Caches.releaseAll()
  }

  test("the session carries the engine's codegen cache bound") {
    assert(spark.sessionState.conf.codegenCacheMaxEntries == GraftExtensions.CodegenCacheEntries)
    assert(SQLConf.get.codegenCacheMaxEntries == GraftExtensions.CodegenCacheEntries)
  }

  test("a second sweep of the methyl pipeline queries compiles no new classes") {
    sweep()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sweep()
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(recompiled == 0, s"$recompiled classes recompiled on the second sweep")
  }

  test("sessionDefaults sets the codegen cache bound only where it is missing") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val fresh = new SparkConf(false)
    GraftExtensions.sessionDefaults(fresh)
    assert(fresh.get(key) == GraftExtensions.CodegenCacheEntries.toString)
    val userSet = new SparkConf(false).set(key, "64")
    GraftExtensions.sessionDefaults(userSet)
    assert(userSet.get(key) == "64")
  }
}
