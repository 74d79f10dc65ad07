package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row

/** The one session factory and the one registration path: the shared
  * suite session (GraftSession.builder + Tables.configure) carries the
  * engine's settings, and re-running configure never registers anything
  * twice on either extension surface. */
class GraftSessionSpec extends SparkSuite {

  Tables.configure(spark)
  Tables.configure(spark)

  /** Runtime surface (`spark.experimental`) plus build-time surface
    * (rules and strategies a session got from SparkSessionExtensions). */
  private def optimizerRules =
    spark.experimental.extraOptimizations ++
      spark.sessionState.optimizer.extendedOperatorOptimizationRules
  private def strategies =
    spark.experimental.extraStrategies ++
      spark.sessionState.planner.extraPlanningStrategies

  test("configure registers each rule and the as-of strategy exactly once") {
    assert(optimizerRules.count(_ == plans.ApproxDistinctRewrite()) === 1)
    assert(optimizerRules.count(_ == plans.MaterializedAgg.Rewrite()) === 1)
    assert(strategies.count(_ == plans.AsofJoinStrategy) === 1)
  }

  test("cosine_sim and int_gcd resolve in spark.sql") {
    val r = spark.sql("SELECT cosine_sim(array(1d, 0d), array(1d, 0d)), " +
      "int_gcd(12L, 18L)").head()
    assert(r === Row(1.0, 6L))
  }

  test("effective confs: ANSI off, UTC, nanosAsLong, zstd, shuffle " +
      "partitions = parallelism") {
    def conf(k: String) = spark.conf.get(k)
    assert(conf("spark.sql.ansi.enabled") === "false")
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf("spark.sql.parquet.compression.codec") === "zstd")
    assert(conf("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
    // Spark defaults the builder relies on instead of setting them
    val sql = spark.sessionState.conf
    assert(sql.adaptiveExecutionEnabled)
    assert(sql.coalesceShufflePartitionsEnabled)
    assert(conf("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(sql.filesMaxPartitionBytes === 128L * 1024 * 1024)
  }

  test("GraftSession.scala holds the only session builder call in src/") {
    val call = "SparkSession" + ".builder()"
    val files = Files.walk(Paths.get("src"))
    val sites =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(call))
        .map(_.toString).toList.sorted
      finally files.close()
    assert(sites === List("src/main/scala/graft/GraftSession.scala"),
      "build sessions through GraftSession.builder")
  }
}
