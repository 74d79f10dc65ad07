package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s per-query summary rule on fixed vectors: pass 1 is the
  * cold sample, the warm passes give a median with numpy-linear quartiles,
  * and a failed run makes the query flaky, or failed when no warm run is
  * left. The JSON string escaper the artifact's `errors` map uses. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Summary, summarize, total}

  test("four clean runs: cold is pass 1, warm median and quartiles are " +
      "numpy's linear percentiles of passes 2..4") {
    // np.percentile([2, 1, 4], [50, 25, 75]) == [2.0, 1.5, 3.0]
    assert(summarize(Seq(Some(9.0), Some(2.0), Some(1.0), Some(4.0))) ==
      Summary(Some(9.0), Some(2.0), Some(1.5), Some(3.0),
        failed = false, flaky = false))
    // np.percentile([1, 3], [50, 25, 75]) == [2.0, 1.5, 2.5]
    assert(Bench.percentile(Seq(3.0, 1.0), 50) == 2.0)
    assert(Bench.percentile(Seq(3.0, 1.0), 25) == 1.5)
    assert(Bench.percentile(Seq(3.0, 1.0), 75) == 2.5)
    assert(Bench.percentile(Seq(5.0), 25) == 5.0)
  }

  test("a failed cold run: cold is null, warm is unchanged, the query " +
      "is flaky") {
    assert(summarize(Seq(None, Some(2.0), Some(1.0), Some(4.0))) ==
      Summary(None, Some(2.0), Some(1.5), Some(3.0),
        failed = false, flaky = true))
  }

  test("a failed warm run leaves the median of the clean ones") {
    assert(summarize(Seq(Some(9.0), Some(3.0), None, Some(1.0))) ==
      Summary(Some(9.0), Some(2.0), Some(1.5), Some(2.5),
        failed = false, flaky = true))
  }

  test("all warm runs failed: the query is null, failed, and outside " +
      "the total") {
    val lost = summarize(Seq(Some(9.0), None, None, None))
    assert(lost == Summary(Some(9.0), None, None, None,
      failed = true, flaky = false))
    assert(summarize(Seq(None, None, None, None)).failed)
    val clean = summarize(Seq(Some(9.0), Some(2.0), Some(1.0), Some(4.0)))
    assert(total(Seq(clean, lost)) == 2.0)
  }

  test("an error message lands in the errors map as one JSON string") {
    // the escaper Bench's `errors` map and Verify's oracle_sql.json share
    assert(Verify.jsonStr("a \"q\" C:\\x\n\tend\u0001") ==
      "\"a \\\"q\\\" C:\\\\x\\u000a\\u0009end\\u0001\"")
  }
}
