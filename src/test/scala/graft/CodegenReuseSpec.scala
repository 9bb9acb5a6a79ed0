package graft

import org.apache.spark.metrics.source.CodegenMetrics
import graft.core.CacheScope
import graft.queries.{CurationQueries, ReportQueries}

/** A pipeline run again in a long-lived session must reuse the code
  * Spark generated for it the first time. Spark's generated-code
  * cache is an LRU of `spark.sql.codegen.cache.maxEntries` classes
  * (default 100); the report and curation chains together generate
  * more distinct classes than that, so at the default every repeat
  * recompiles most of them with Janino (and the JIT compiles the new
  * classes again). `SessionTune.defaults` sizes the cache for that
  * working set; this spec fails if it stops doing so. */
class CodegenReuseSpec extends SparkSpec {

  /** The report chain and the curation chain, each in its own cache
    * scope with the cache cleared after it, as a pipeline harness runs
    * them. */
  private def pass(): Unit = {
    for (q <- Seq(ReportQueries.qE2eReport _, ReportQueries.qTenancy _,
        ReportQueries.qOverlap _, CurationQueries.qCurationFull _)) {
      try CacheScope.withScope(q(spark, sf).collect())
      finally spark.catalog.clearCache()
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated pass reuses its generated classes") {
    val c0 = compiles
    pass()
    val c1 = compiles
    pass()
    val repeat = compiles - c1
    assert(repeat <= 20,
      s"the repeated pass recompiled $repeat classes (first pass: ${c1 - c0})")
  }
}
