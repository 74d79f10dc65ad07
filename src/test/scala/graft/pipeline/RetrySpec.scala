package graft.pipeline

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference DAG's per-stage failure policy (`retries: 1,
  * retry_delay` — `dags/stock_pipeline_dag.py:14-18`) as implemented by
  * [[Retry.withRetry]]: one transient failure recovers, persistent
  * failure surfaces the ORIGINAL error, the delay runs before each
  * re-attempt (injected sleeper — no real clock in tests), and fatal or
  * deterministic failures are not re-attempted. */
class RetrySpec extends AnyFunSuite {

  private def policy(retries: Int, slept: StringBuilder) =
    Retry.Policy(retries = retries, delayMs = 123L,
      sleep = ms => { slept.append(s"sleep($ms);"); () })

  test("once-failing stage succeeds on retry, after one delay") {
    val slept = new StringBuilder
    var calls = 0
    val out = Retry.withRetry(policy(1, slept), "flaky") {
      calls += 1
      if (calls == 1) sys.error("transient object-store hiccup")
      "ok"
    }
    assert(out == "ok")
    assert(calls == 2)
    assert(slept.toString == "sleep(123);")
  }

  test("twice-failing stage surfaces the ORIGINAL error, retry attached") {
    val slept = new StringBuilder
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(policy(1, slept), "broken") {
        calls += 1
        sys.error(s"boom #$calls")
      }
    }
    assert(calls == 2)
    assert(e.getMessage == "boom #1") // root cause, not the last knock-on
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("boom #2"))
    assert(slept.toString == "sleep(123);")
  }

  test("retries = 0 fails immediately with no sleep") {
    val slept = new StringBuilder
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(Retry.none.copy(sleep = ms => slept.append(ms)),
        "strict") { calls += 1; sys.error("nope") }
    }
    assert(calls == 1 && e.getMessage == "nope" && slept.isEmpty)
  }

  test("success on first attempt never sleeps or re-runs") {
    val slept = new StringBuilder
    var calls = 0
    val out = Retry.withRetry(policy(3, slept), "fine") { calls += 1; 42 }
    assert(out == 42 && calls == 1 && slept.isEmpty)
  }

  test("a fatal error (NoClassDefFoundError) fails after one call, no sleep") {
    val slept = new StringBuilder
    var calls = 0
    intercept[NoClassDefFoundError] {
      Retry.withRetry(policy(1, slept), "linkage") {
        calls += 1
        throw new NoClassDefFoundError("late-loaded codec")
      }
    }
    assert(calls == 1 && slept.isEmpty)
  }

  test("deterministic failures (require guard, AnalysisException) fail " +
      "after one call, no sleep") {
    for (cause <- Seq[Exception](
        new IllegalArgumentException(
          "requirement failed: no raw files found under /raw"),
        new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> "file:/combined")))) {
      val slept = new StringBuilder
      var calls = 0
      val e = intercept[Exception] {
        Retry.withRetry(policy(3, slept), "deterministic") {
          calls += 1
          throw cause
        }
      }
      assert((e eq cause) && calls == 1 && slept.isEmpty,
        s"$e after $calls calls, slept $slept")
    }
  }

  test("a deterministic failure on a re-attempt ends the attempts and " +
      "surfaces the ORIGINAL error") {
    val slept = new StringBuilder
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(policy(3, slept), "mixed") {
        calls += 1
        if (calls == 1) sys.error("transient object-store hiccup")
        require(false, "no raw files found under /raw")
      }
    }
    assert(calls == 2 && slept.toString == "sleep(123);")
    assert(e.getMessage == "transient object-store hiccup")
    assert(e.getSuppressed.map(_.getMessage).toSeq ==
      Seq("requirement failed: no raw files found under /raw"))
  }
}
