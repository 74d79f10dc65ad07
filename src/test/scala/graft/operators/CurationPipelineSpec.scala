package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._
import graft.{SparkSuite, Tables}

/** The composed curation pipeline against its stage invariants on real
  * testdata — each stage is oracle-checked individually elsewhere; this
  * pins that the COMPOSITION preserves their guarantees. */
class CurationPipelineSpec extends SparkSuite with TimeLimits {

  private val sf = "/root/testdata/sf0.001"

  private lazy val result = CurationPipeline.run(
    Tables.load(spark, sf, "documents"),
    "doc_id", "text", "lang")

  test("attrition report is monotone and starts at the corpus size") {
    val rows = result.report.orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(_._1).toSeq ==
      Seq("1_input", "2_quality", "3_exact_dedup", "4_near_dedup"))
    assert(rows.head._2 == 500)
    assert(rows.map(_._2).sliding(2).forall(p => p(0) >= p(1)),
      s"stage counts increased: ${rows.toSeq}")
  }

  test("kept docs carry no exact-duplicate fingerprints") {
    import graft.functions.TextAnalysis.fingerprint
    val dups = result.kept
      .select(fingerprint(col("text")).as("fp"))
      .groupBy("fp").count().filter(col("count") > 1).count()
    assert(dups == 0)
  }

  test("no near-dup pair above threshold survives among kept docs") {
    val pairs = DedupPipeline.nearDupPairs(
      result.kept, "doc_id", "text", n = 5, minJaccard = 0.5)
    assert(pairs.count() == 0)
  }

  test("every kept doc has a split and a pack honoring the token budget") {
    val kept = result.kept.cache()
    try {
      assert(kept.filter(
        !col("split").isin("train", "val", "test")).count() == 0)
      // greedy first-fit: a pack exceeds the budget only when a single
      // oversized doc owns it alone
      val bad = kept.groupBy("split", "pack_id")
        .agg(sum("n_tokens").as("w"), count(lit(1)).as("n"))
        .filter(col("w") > 256 && col("n") > 1)
        .count()
      assert(bad == 0)
      // deterministic split: ~80/10/10 within loose bounds
      val frac = kept.filter(col("split") === "train").count().toDouble /
        kept.count()
      assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    } finally { kept.unpersist(); () }
  }

  test("report counts and kept digest equal the pinned values") {
    val rows = result.report.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("1_input", 500L), ("2_quality", 193L),
      ("3_exact_dedup", 193L), ("4_near_dedup", 188L)))
    // row count plus the sum of a 64-bit hash over every column, summed
    // as decimals so no partial sum can overflow
    val kept = result.kept
    val digest = kept.agg(count(lit(1)), sum(
      xxhash64(kept.columns.map(col).toIndexedSeq: _*).cast("decimal(20,0)")))
      .head()
    assert((digest.getLong(0), digest.getDecimal(1)) ==
      ((188L, new java.math.BigDecimal("-49198626606465440280"))))
  }

  test("CurationPipeline.run materializes each dedup stage once") {
    // the bound is the count measured on this Spark version; re-measure
    // it on an upgrade, like the plan gates. The guarded call is a warm
    // one: the first Tables.load of the documents in a JVM adds one job,
    // the parquet schema inference its schema memo then replays
    result
    val n = jobsOf(CurationPipeline.run(
      Tables.load(spark, sf, "documents"), "doc_id", "text", "lang"))
    assert(n <= 24, s"CurationPipeline.run ran $n jobs > 24; with four " +
      "standalone count()s and no materialized exact stage it ran 43, " +
      "with min-label components and their separate edge cache 29")
  }

  test("a repeated curation run compiles no class") {
    val n = warmCompiles {
      val r = CurationPipeline.run(
        Tables.load(spark, sf, "documents"), "doc_id", "text", "lang")
      r.kept.write.mode("overwrite").format("noop").save()
      r.report.collect()
    }
    assert(n.min == 0, "repeated CurationPipeline.run calls compiled " +
      s"${n.mkString(", ")} classes")
  }

  // the report's counts are Observations, and `Observation.get` blocks
  // until its metric arrives: a stage that never fulfils one must fail
  // the case, not hang the suite
  implicit private val signaler: Signaler = ThreadSignaler

  private def reportAndKept(docs: DataFrame,
      cfg: CurationPipeline.Config = CurationPipeline.Config())
      : (Seq[Long], Long) = failAfter(180.seconds) {
    val r = CurationPipeline.run(docs, "doc_id", "text", "lang", cfg)
    (r.report.collect().map(_.getLong(1)).toSeq, r.kept.count())
  }

  test("an empty corpus yields a zero report and an empty kept corpus") {
    val docs = Tables.load(spark, sf, "documents")
    // one the optimizer proves empty, one only the run finds empty
    val proven = docs.limit(0)
    val atRunTime = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], docs.schema)
    for (empty <- Seq(proven, atRunTime))
      assert(reportAndKept(empty) == ((Seq(0L, 0L, 0L, 0L), 0L)))
  }

  test("a corpus the quality screen removes entirely reports (n, 0, 0, 0)") {
    val docs = Tables.load(spark, sf, "documents")
    assert(reportAndKept(docs, CurationPipeline.Config(minChars = 1000000))
      == ((Seq(500L, 0L, 0L, 0L), 0L)))
  }
}
