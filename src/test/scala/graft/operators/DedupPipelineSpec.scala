package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The composed dedup API on a corpus with known duplicate structure:
  * exact keeps one row per fingerprint (min id), near clusters
  * non-transitively similar docs and keeps each cluster's min id, and
  * both preserve the input schema. */
class DedupPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = DedupPipelineSpec.corpus(spark)

  test("exact keeps the min-id row per fingerprint, schema intact") {
    val out = DedupPipeline.exact(corpus, "doc_id", "text")
    assert(out.columns.toSeq == Seq("doc_id", "text", "meta"))
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L)) // 2 is the exact dup of 1
  }

  test("near clusters A~B~C transitively and keeps min ids") {
    // docs 1,2 identical; 3 shares 9 of 10 tokens with both → same
    // cluster at a 0.3 threshold; 4 and 5 survive untouched
    val out = DedupPipeline.near(corpus, "doc_id", "text",
      n = 3, threshold = 0.3)
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 4L, 5L))
    assert(out.columns.toSeq == Seq("doc_id", "text", "meta"))
  }

  test("containmentPairs catches a small doc swallowed by a big one " +
      "that Jaccard misses") {
    // doc 11 = a 6-token snippet verbatim inside doc 10's 24 tokens:
    // 4 trigram shingles of 11's 4 all appear in 10's 22 → cont_small =
    // 1.0, while jaccard = 4/22 ≈ 0.18 — under a 0.3 Jaccard threshold
    // the pair is invisible, containment at 0.5 flags it.
    val host = "alpha beta gamma delta epsilon zeta " +
      "one two three four five six seven eight " +
      "nine ten eleven twelve thirteen fourteen fifteen sixteen " +
      "seventeen eighteen"
    val df = Seq(
      (10L, host),
      (11L, "one two three four five six"),
      (12L, "totally unrelated words about nothing shared here")
    ).toDF("doc_id", "text")
    val jacc = DedupPipeline
      .nearDupPairs(df, "doc_id", "text", n = 3, minJaccard = 0.3)
      .collect()
    assert(jacc.isEmpty) // Jaccard at 0.3 sees nothing
    val cont = DedupPipeline
      .containmentPairs(df, "doc_id", "text", n = 3, minContainment = 0.5)
      .collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 10L && r.getLong(1) == 11L)
    // the small side is fully contained; the big side is not
    assert(r.getAs[Double]("cont_b") == 1.0)
    assert(r.getAs[Double]("cont_a") < 0.5)
  }

  test("containmentPairs reports df-gated gram counts as a recall bound") {
    // boiler appears in ALL THREE docs → its 3 trigrams have df = 3 > 2
    // and fall to the gate; the A/B-only middle (2 junction + 3 shared
    // trigrams, df = 2) is kept. So pair (10,11) must report inter = 5
    // with gated_a = gated_b = 3 — the advertised bound true_inter ≤
    // inter + least(gated_a, gated_b) = 8 covers the real value 8.
    // (12, x) pairs share ONLY gated grams → no kept gram, no pair.
    val boiler = "common header words appear here"
    val shared = "quick brown fox jumps tonight"
    val df = Seq(
      (10L, s"$boiler $shared redpanda one"),
      (11L, s"$boiler $shared bluejay two"),
      (12L, s"$boiler totally different tail text")
    ).toDF("doc_id", "text")
    val cont = DedupPipeline
      .containmentPairs(df, "doc_id", "text", n = 3,
        minContainment = 0.4, maxDf = 2)
      .collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 10L && r.getLong(1) == 11L)
    assert(r.getAs[Long]("inter") == 5L)
    assert(r.getAs[Long]("gated_a") == 3L && r.getAs[Long]("gated_b") == 3L)
  }

  test("nearDupPairs reports symmetric-free ordered pairs with jaccard") {
    val pairs = DedupPipeline
      .nearDupPairs(corpus, "doc_id", "text", n = 3, minJaccard = 0.1)
      .collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 2L)) && keys.contains((1L, 3L)) &&
      keys.contains((2L, 3L)))
    // 4 and 5 never pair with the fox cluster or each other
    assert(!keys.exists { case (a, b) => a >= 4L || b >= 4L })
  }
}

object DedupPipelineSpec {

  /** Five documents with known duplicate structure: 2 is an exact copy
    * of 1, 3 is a near copy of both, 4 and 5 are unique. */
  def corpus(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", "a"),
      (2L, "the quick brown fox jumps over the lazy dog tonight", "b"), // = 1
      (3L, "the quick brown fox jumps over the lazy cat tonight", "c"), // ~ 1
      (4L, "completely different text about spark shuffles and joins", "d"),
      (5L, "unrelated snippet mentioning parquet files and row groups", "e")
    ).toDF("doc_id", "text", "meta")
  }
}
