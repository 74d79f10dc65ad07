package graft.queries

import graft.SparkSuite
import graft.operators.SessionDirMemo.rawChain
import org.apache.spark.sql.DataFrame

/** The memo contract, gated: a [[graft.operators.SessionDirMemo]]'d
  * builder must be HASH-NEUTRAL — a fresh rebuild under
  * `SessionDirMemo.rawChain` (every memo bypassed, every pin a no-op:
  * the raw lazy chain) and the memoized slot return the same multiset of
  * rows, so no consumer's oracle hash can depend on whether it hit a
  * slot or a cold build. Until now this invariant rested on discipline
  * plus the downstream DuckDB hashes; this spec asserts it DIRECTLY for
  * the memoized builders, so a build that accidentally becomes
  * nondeterministic (an unseeded sample, an unstable tie-break, a
  * partitioning-dependent fold) fails here by name instead of surfacing
  * as a mysterious consumer-hash divergence. vocabCum's scan is eager by
  * construction, so its raw rebuild is a FRESH eager scan compared
  * against the slot (r15 verdict item 5). */
class MemoNeutralitySpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Multiset snapshot: sorted row renderings (null-safe via mkString). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def assertNeutral(names: Seq[String], raw: Seq[DataFrame],
      memoized: Seq[DataFrame]): Unit =
    (names zip raw zip memoized).foreach { case ((name, rd), md) =>
      val (r, m) = (rows(rd), rows(md))
      assert(r == m,
        s"$name memo is not hash-neutral: raw ${r.length} rows vs " +
          s"memoized ${m.length}; first diff: " +
          s"${r.diff(m).take(2)} vs ${m.diff(r).take(2)}")
      assert(r.nonEmpty, s"$name: vacuous fixture (0 rows)")
    }

  private def frames(p: Product): Seq[DataFrame] =
    p.productIterator.map(_.asInstanceOf[DataFrame]).toSeq

  /** (test name, the frames' names in failure messages, builder). */
  private val cases: Seq[(String, Seq[String], () => Seq[DataFrame])] = Seq(
    ("lshScoredPairs: raw chain == memoized build", Seq("lshScoredPairs"),
      () => Seq(SimilarityQueries.lshScoredPairs(spark, sf))),
    ("lshTuningTable: raw chain == memoized build", Seq("lshTuningTable"),
      () => Seq(SimilarityQueries.lshTuningTable(spark, sf))),
    ("ivfTuningTable: raw chain == memoized build", Seq("ivfTuningTable"),
      () => Seq(SimilarityQueries.ivfTuningTable(spark, sf))),
    ("minhashTuningTable: raw chain == memoized build",
      Seq("minhashTuningTable"),
      () => Seq(DedupQueries.minhashTuningTable(spark, sf))),
    ("basketPairs: raw chain == memoized build", Seq("basketPairs"),
      () => Seq(TpchQueries.basketPairs(spark, sf))),
    ("semiringStages: raw chain == memoized build", Seq("semiringStages"),
      () => Seq(GraphQueries.semiringStages(spark, sf))),
    ("nbDocScores: raw chain == memoized build", Seq("nbDocScores"),
      () => Seq(QualityModelQueries.nbDocScores(spark, sf))),
    ("lmDocCe: raw chain == memoized build", Seq("lmDocCe"),
      () => Seq(QualityModelQueries.lmDocCe(spark, sf))),
    ("nbModel: raw chain == memoized build (both frames)",
      Seq("nbModel.model", "nbModel.totals"),
      () => frames(QualityModelQueries.nbModel(spark, sf))),
    ("vocabCum: fresh eager rebuild == memoized build", Seq("vocabCum"),
      () => Seq(CorpusStatsQueries.vocabCum(spark, sf))),
    ("corpusStages: every stage of the raw chain == memoized build",
      Seq("stage1", "stage2", "stage3", "stage4", "stage5", "mixed")
        .map("corpusStages." + _),
      () => frames(CurationQueries.corpusStages(spark, sf))),
    ("jaccardPairs: raw chain == memoized build", Seq("jaccardPairs"),
      () => Seq(DedupQueries.jaccardPairs(spark, sf))),
    ("imageAhashPairs: raw chain == memoized build",
      Seq("imageAhashPairs"),
      () => Seq(MultimodalQueries.imageAhashPairs(spark, sf))),
    ("audioLandmarksDir: raw chain == memoized build",
      Seq("audioLandmarksDir"),
      () => Seq(MultimodalQueries.audioLandmarksDir(spark, sf))),
    ("audioFpPairsDir: raw chain == memoized build",
      Seq("audioFpPairsDir"),
      () => Seq(MultimodalQueries.audioFpPairsDir(spark, sf))),
    ("videoLandmarksDir: raw chain == memoized build",
      Seq("videoLandmarksDir"),
      () => Seq(MultimodalQueries.videoLandmarksDir(spark, sf))),
    ("policyQuotaFull: raw chain == memoized build",
      Seq("policyQuotaFull"),
      () => Seq(QualityModelQueries.policyQuotaFull(spark, sf))),
    ("q108Stages edges: raw chain == memoized build",
      Seq("q108Stages.edges"),
      () => Seq(TemporalQueries.q108Stages(spark, sf)._1)))

  for ((name, names, f) <- cases)
    test(name) {
      assertNeutral(names, rawChain(f()), f())
    }
}
