package graft.queries

import graft.{SparkEntry, SparkSuite}
import graft.operators.{ConnectedComponents, CurationPipeline, DedupPipeline,
  DedupPipelineSpec}
import graft.operators.SessionDirMemo.rawChain
import org.apache.spark.sql.functions.lit

/** `ConnectedComponents.components` returns a checkpoint and releases
  * every cache it made, so no caller owes an `unpersist()`. A cache it
  * failed to release would stay a MEMORY_AND_DISK entry in the session's
  * CacheManager for the life of the JVM, once per call. CC itself (on a
  * shallow and a deep graph), the composed dedup and curation APIs and
  * each CC-driven query must leave the cache exactly as empty as they
  * found it. */
class CcCacheReleaseSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  private def leavesNoCache(name: String)(run: => Unit): Unit = {
    spark.catalog.clearCache()
    assert(cacheManager.isEmpty)
    run
    assert(cacheManager.isEmpty,
      s"$name left a cached relation in the session's CacheManager — " +
        "a persisted CC cache was never unpersisted")
  }

  // rawChain: the memo-backed queries (q67, q244, q361) would otherwise
  // read a warm slot and never run CC; the others hold no CC memo
  for (name <- Seq("q299_hub_robustness", "q263_dbscan",
      "q67_dedup_clusters", "q244_identity_stitch", "q361_keeper_policy"))
    test(s"$name leaves no cached relation behind") {
      leavesNoCache(name) {
        rawChain(SparkEntry.queries(name)(spark, sf)
          .write.mode("overwrite").format("noop").save())
      }
    }

  // a few-round forest and a 201-node chain that needs many star rounds
  private val shapes = Seq(
    ("7-node forest", (0L to 6L), Seq((1L, 0L), (2L, 1L), (4L, 3L)),
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L,
        6L -> 6L)),
    ("201-node chain", (0L to 200L), (0L until 200L).map(i => (i + 1, i)),
      (0L to 200L).map(_ -> 0L).toMap))
  for ((shape, nodes, edges, want) <- shapes)
    test(s"components on a $shape leaves no cached relation behind " +
      "and its result stays readable") {
      leavesNoCache(s"components ($shape)") {
        val labels = ConnectedComponents.components(nodes.toDF("id"),
          edges.toDF("a", "b"), "id", "a", "b")
        assert(labels.as[(Long, Long)].collect().toMap == want)
      }
    }

  test("DedupPipeline.near leaves no cached relation behind") {
    leavesNoCache("DedupPipeline.near") {
      val out = DedupPipeline.near(DedupPipelineSpec.corpus(spark),
        "doc_id", "text", n = 3, threshold = 0.3)
      assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 4L, 5L))
    }
  }

  test("CurationPipeline.run leaves no cached relation behind") {
    leavesNoCache("CurationPipeline.run") {
      val r = CurationPipeline.run(
        DedupPipelineSpec.corpus(spark).withColumn("lang", lit("en")),
        "doc_id", "text", "lang",
        CurationPipeline.Config(nearN = 3, nearThreshold = 0.3))
      r.kept.write.mode("overwrite").format("noop").save()
      val report = r.report.as[(String, Long)].collect().toMap
      assert(report("4_near_dedup") == 3L)
    }
  }
}
