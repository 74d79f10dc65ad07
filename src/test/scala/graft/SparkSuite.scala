package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (forked test JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** The Spark jobs `body` launches, AQE query-stage jobs included,
    * counted by a listener once the asynchronous listener bus drains. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val drain = () => org.apache.spark.graftbench.ListenerFlush.drain(sc)
    drain()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try { body; drain(); jobs.get }
    finally sc.removeSparkListener(l)
  }

  /** The classes Janino compiles in each of three calls of `body` after a
    * warm-up call: generated code the class cache missed. The cache is an
    * LRU of `spark.sql.codegen.cache.maxEntries` classes, fixed at the
    * first code generation in the JVM. Under Spark's default of 100 a body
    * that cycles through more classes recompiles all of them on every
    * call; `GraftSession.builder` sizes it so a repeated body compiles
    * nothing. Under AQE the whole-stage codegen ids follow the order in
    * which concurrent shuffle stages finish, so now and then a call meets
    * a variant not compiled yet (8 classes in one of nine warm curation
    * calls): the fewest over the three calls is the floor the cache sets.
    * That floor is also above 0 when a suite generates code before the
    * first builder-made session exists, since the cache then keeps
    * Spark's default bound. */
  def warmCompiles(body: => Unit): Seq[Long] = {
    val compiled =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    body
    Seq.fill(3) {
      val before = compiled.getCount
      body
      compiled.getCount - before
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.configure(s)
    s
  }
}
