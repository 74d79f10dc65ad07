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
