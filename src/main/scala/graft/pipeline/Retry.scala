package graft.pipeline

import org.apache.spark.sql.AnalysisException
import scala.util.control.NonFatal

/** Per-stage retry policy mirroring the reference DAG's failure handling
  * (`dags/stock_pipeline_dag.py:14-18`: `retries: 1, retry_delay:
  * timedelta(minutes=5)` applied to every task). The reference delegates
  * this to Airflow; here it is a library concern so a caller running the
  * composed pipeline gets the same "one flaky object-store hiccup does not
  * kill the run" behavior without an orchestrator.
  *
  * Semantics: the body runs once, then up to `retries` more times with
  * `delayMs` sleep before each re-attempt. If every attempt fails, the
  * FIRST failure is thrown (it is the root cause; later failures are
  * usually knock-on effects of the same condition) with subsequent
  * failures attached as suppressed exceptions.
  *
  * Only transient failures are re-attempted. A fatal error (not
  * `NonFatal`: VM errors, linkage errors, interrupts) propagates at once.
  * A deterministic failure — an `AnalysisException`, or an
  * `IllegalArgumentException` from a stage's `require` guard — would fail
  * the same way again, so it ends the attempts without a sleep.
  */
object Retry {

  /** @param sleep injectable for tests — production default blocks the
    *              driver thread, matching Airflow's task-level delay. */
  final case class Policy(
      retries: Int = 1,
      delayMs: Long = 5 * 60 * 1000L,
      sleep: Long => Unit = Thread.sleep) {
    require(retries >= 0, s"retries must be >= 0, got $retries")
    require(delayMs >= 0, s"delayMs must be >= 0, got $delayMs")
  }

  /** No re-attempts: failures surface immediately. */
  val none: Policy = Policy(retries = 0, delayMs = 0L)

  def withRetry[T](policy: Policy, stage: String)(body: => T): T = {
    var first: Throwable = null
    var attempt = 0
    while (attempt <= policy.retries) {
      if (attempt > 0) policy.sleep(policy.delayMs)
      try {
        return body
      } catch {
        case NonFatal(e) =>
          if (first == null) first = e
          else if (e ne first) first.addSuppressed(e)
          if (deterministic(e)) throw first
          attempt += 1
      }
    }
    throw first
  }

  private def deterministic(e: Throwable): Boolean = e match {
    case _: AnalysisException | _: IllegalArgumentException => true
    case _ => false
  }
}
