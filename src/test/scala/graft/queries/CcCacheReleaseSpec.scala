package graft.queries

import graft.{SparkEntry, SparkSuite}

/** `ConnectedComponents.components` returns a persisted frame whose
  * release is the caller's contract. A query that drops the result
  * without `unpersist()` leaves a MEMORY_AND_DISK entry in the session's
  * CacheManager for the life of the JVM, once per call. Each CC-driven
  * query here must leave the cache exactly as empty as it found it. */
class CcCacheReleaseSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  for (name <- Seq("q299_hub_robustness", "q263_dbscan"))
    test(s"$name leaves no cached relation behind") {
      spark.catalog.clearCache()
      assert(cacheManager.isEmpty)
      SparkEntry.queries(name)(spark, sf)
        .write.mode("overwrite").format("noop").save()
      assert(cacheManager.isEmpty,
        s"$name left a cached relation in the session's CacheManager — " +
          "a persisted CC result was never unpersisted")
    }
}
