package graft

import graft.operators.PlanAudit
import graft.operators.SessionDirMemo.rawChain

/** Plan-shape GATE for the suite's most expensive queries (round-10
  * verdict task 5): PLANS.json makes plan regressions diffable, but
  * nothing FAILED when a broadcast silently degraded to a sort-merge
  * join or a rewrite introduced a cartesian — the artifact records the
  * regression, this spec rejects it. Each pin is the static pre-AQE
  * shuffle count ([[PlanAudit.of]]) measured at sf0.001 via
  * `Test/runMain graft.PlanCounterSweepTool shuffles` (read off this
  * map's keys; a key the sweep omits pins 0), +2 slack so a
  * stats-driven join-strategy wobble doesn't flap the suite while a
  * real lost broadcast (typically +2 shuffles per join side) still
  * trips it. Cartesians pin at exactly
  * zero — no slack, no legitimate reason for one to appear in these
  * query shapes at any scale. */
object PlanGateSpec {
  private val slack = 2L
  /** query → measured static shuffle count at sf0.001
    * (PlanCounterSweepTool shuffles). */
  val measured: Map[String, Long] = Map(
    "q263_dbscan" -> 12L,
    "q275_stitched_sessions" -> 4L,
    "q247_golden_record" -> 5L,
    "q244_identity_stitch" -> 1L,
    "q266_sparse_cosine" -> 19L,
    "q270_lsh_tuning" -> 13L, // r13 arm fusion
    "q219_dedup_funnel" -> 3L,
    "q215_modularity" -> 10L,
    "q67_dedup_clusters" -> 1L,
    "q198_groupwise_split" -> 2L,
    // fused two-semiring loop (r13): both are projections of the
    // memoized checkpointed state — raw chain gated separately below
    "q265_widest_path" -> 1L,
    "q264_sssp" -> 1L,
    "q273_winnowing" -> 6L,
    "q259_three_way_reconcile" -> 9L,
    "q134_kcore" -> 0L,
    "q201_label_prop" -> 1L,
    "q223_mutual_knn" -> 5L, // post-memo stub (lshScoredPairs)
    "q305_cos_calibration" -> 2L,
    "q100_fuzzy_match" -> 2L,
    "q118_kmeans" -> 3L,
    "q280_cluster_purity" -> 5L,
    "q299_hub_robustness" -> 4L,
    "q309_landmark_centrality" -> 2L,
    "q306_label_noise" -> 2L,
    "q310_jl_audit" -> 1L,
    // round-12: the rest of the r11 top-20 by cost
    "q108_triangles" -> 0L,
    "q114_inverted_index" -> 3L,
    "q128_cooccur" -> 1L, // post-memo stub (basketPairs)
    "q130_ref_integrity" -> 4L,
    "q119_assortativity" -> 5L,
    // round-13: the r12 cost/width tail (verdict item 4)
    // r13: e-subtree checkpoint anchored the 4 power-iteration rounds
    // to a leaf (was 70 — the window-scan chain re-listed per round)
    "q255_markov_stationary" -> 10L,
    "q332_dict_encoding" -> 24L,
    "q333_prf_expansion" -> 20L,
    "q231_ppr" -> 20L,
    "q302_source_tvd" -> 20L,
    "q197_lsh_calibration" -> 9L,
    "q176_simhash_pairs" -> 3L,
    // round-13: the composed corpus build (verdict item 6) + its
    // funnel/planner companions (near stage memoized — raw chain gated
    // below)
    "q353_corpus_build" -> 2L, // post-memo stub (corpusMixMemo)
    "q354_corpus_attrition" -> 12L,
    "q361_keeper_policy" -> 6L,
    "q355_pack_sweep" -> 2L,
    "q356_vocab_richness" -> 3L,
    "q357_release_audit" -> 11L,
    // round-13 gate-depth sweep: every remaining top-40-cost query
    // (BENCH_FULL) now carries a pin — all measured cartesian-free;
    // the BNLJ hits inside q161/q149/q352 etc. are the documented
    // bounded-small-side broadcasts, re-audited via PLANS.json
    "q192_substring_overlap" -> 5L,
    "q44_dedup_embedding" -> 6L,
    "q161_adc_scan" -> 10L,
    "q260_key_gap_audit" -> 4L,
    "q267_item_recs" -> 8L,
    "q286_alignment" -> 4L,
    "q288_effective_dim" -> 3L,
    "q257_rfm_census" -> 9L,
    "q211_para_near_dup" -> 3L,
    "q42_dedup_minhash" -> 3L,
    "q226_containment" -> 8L,
    "q107_mad_outliers" -> 5L,
    "q174_decile_migration" -> 6L,
    "q278_exclusive_vocab" -> 5L,
    "q57_volume_shipping" -> 2L,
    "q272_abc_classes" -> 4L,
    "q149_pq_codes" -> 5L,
    "q64_tfidf" -> 6L,
    "q312_top_movers" -> 6L,
    "q352_info_gain" -> 18L,
    // round-13 additions (q362's 25 = the lazy pair-mining chain listed
    // by both curve branches; runtime ReuseExchange collapses them)
    "q358_fleiss_kappa" -> 1L,
    "q359_bpe_merges" -> 2L,
    "q360_token_lookup" -> 3L,
    "q362_dedup_sweep" -> 25L,
    // round-14: trained-model gates — post-memo stubs (nbScoresMemo /
    // lmCeMemo); the raw chains are gated by the builder tests below
    "q363_nb_classifier" -> 2L,
    "q364_lm_cross_entropy" -> 2L,
    "q365_nb_threshold_sweep" -> 3L,
    "q366_gate_agreement" -> 1L,
    "q367_quality_budget" -> 10L, // r14 fix: unscored sources left-joined in
    "q368_review_sample" -> 3L,
    // corpusMixMemo stub on the mixed side + nbModelMemo stubs on the
    // model side; only the survivor scoring plans live
    "q369_gate_ablation" -> 3L,
    // the trained words table plans as the final round's checkpoint stub
    // (BpeTrainer trains at query-construction time, KMeans-style)
    "q370_bpe_fertility" -> 2L,
    // round-15: the coverage curves ride PrefixScan (verdict item 1) —
    // the census+scan materializes at construction, so these plan as
    // checkpoint stubs; the scan itself is gated by PrefixScanSpec and
    // the blanket partition-less-window guard in PlanSpec
    "q337_coverage_curve" -> 3L,
    "q349_knee_detection" -> 1L,
    // round-15: calibration curves — score-memo stubs + bounded buckets
    "q371_nb_calibration" -> 2L,
    "q372_lm_calibration" -> 2L,
    // round-16: gate-verdict decision rows — memo stubs + ≤21-row
    // bounded-table arithmetic (q374's extra exchanges are the 1-row
    // best/cut frames meeting over a broadcast)
    "q373_nb_gate_verdict" -> 2L,
    "q374_lm_cut_verdict" -> 4L,
    // round-16: policy-applied verdict consumers — memo stubs + bounded
    // source/bucket arithmetic; q375's width is the two-branch listing
    // of the tiered subtree (runtime ReuseExchange collapses it)
    "q375_policy_quota" -> 14L,
    "q376_policy_gate" -> 6L)
  def maxShuffles(name: String): Long = measured(name) + slack
}

class PlanGateSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  // The memoized queries (q67/q198/q219/q244/q247/q275 …) audit as
  // post-checkpoint STUB plans — the expensive chains behind them are
  // invisible to the per-query pins above. Gate the raw BUILDERS
  // directly so a lost broadcast or new cartesian inside the shared
  // shingle→pair chain still fails the suite. (nearDupPairs is pure-lazy,
  // so its full logical chain is auditable; pins measured like the rest.)
  test("memoized-stage builder: nearDupPairs chain keeps its shape") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = operators.PlanAudit.of(operators.DedupPipeline
      .nearDupPairs(docs, "doc_id", "text", n = 5, minJaccard = 0.1,
        maxDf = 1000))
    assert(a.cartesians == 0, s"cartesian in the pair-mining chain: $a")
    assert(a.shuffles <= 3L + 2L,
      s"nearDupPairs shuffles ${a.shuffles} > pinned 3+2: $a")
  }

  test("memoized-stage builder: containmentPairs chain keeps its shape") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = operators.PlanAudit.of(operators.DedupPipeline
      .containmentPairs(docs, "doc_id", "text", n = 5,
        minContainment = 0.5, maxDf = 1000))
    assert(a.cartesians == 0, s"cartesian in the containment chain: $a")
    assert(a.shuffles <= 7L + 2L,
      s"containmentPairs shuffles ${a.shuffles} > pinned 7+2: $a")
  }

  test("memoized-stage builder: lshScoredPairs chain keeps its shape") {
    val a = operators.PlanAudit.of(
      rawChain(queries.SimilarityQueries.lshScoredPairs(spark, sf)))
    assert(a.cartesians == 0, s"cartesian in the LSH pair chain: $a")
    assert(a.nestedLoopJoins == 0, s"BNLJ in the LSH pair chain: $a")
    assert(a.shuffles <= 3L + 2L,
      s"lshScoredPairs shuffles ${a.shuffles} > pinned 3+2: $a")
  }

  test("memoized-stage builder: basket-pair (CoOccur) chain keeps its " +
    "shape") {
    val a = operators.PlanAudit.of(
      rawChain(queries.TpchQueries.basketPairs(spark, sf)))
    assert(a.cartesians == 0, s"cartesian in the basket-pair chain: $a")
    assert(a.shuffles <= 2L + 2L,
      s"basketPairs shuffles ${a.shuffles} > pinned 2+2: $a")
  }

  test("memoized-stage builder: fused semiring chain keeps its shape") {
    val a = operators.PlanAudit.of(
      rawChain(queries.GraphQueries.semiringStages(spark, sf)))
    assert(a.cartesians == 0, s"cartesian in the semiring chain: $a")
    assert(a.shuffles <= 53L + 2L,
      s"fused semiring chain shuffles ${a.shuffles} > pinned 53+2: $a")
  }

  test("memoized-stage builder: composed corpus chain keeps its shape") {
    val (_, _, _, _, _, mixed) =
      rawChain(queries.CurationQueries.corpusStages(spark, sf))
    val a = operators.PlanAudit.of(mixed)
    assert(a.cartesians == 0, s"cartesian in the corpus chain: $a")
    // 43 since r17: the raw mix stage inlines the policy-quota chain
    // (r16 verdict item 1) — the NB train+score chain (its own 7+2 pin
    // above), the calibration-verdict aggregates, two ntile windows over
    // the bounded source set, and the per-source token census; the
    // checkpointed build path rides memo stubs + a collected map
    // literal instead (q353's post-memo pin below stays 2)
    assert(a.shuffles <= 43L + 2L,
      s"corpus chain shuffles ${a.shuffles} > pinned 43+2: $a")
  }

  test("memoized-stage builder: NB train+score chain keeps its shape") {
    val a = operators.PlanAudit.of(
      rawChain(queries.QualityModelQueries.nbDocScores(spark, sf)))
    assert(a.cartesians == 0, s"cartesian in the NB chain: $a")
    assert(a.shuffles <= 7L + 2L,
      s"NB chain shuffles ${a.shuffles} > pinned 7+2: $a")
  }

  test("memoized-stage builder: vocabulary census chain keeps its shape") {
    // the lazy half of vocabCum (the PrefixScan stage is eager by
    // construction and pinned by PrefixScanSpec): one corpus explode +
    // one token-keyed aggregation, no window
    val a = operators.PlanAudit.of(
      queries.CorpusStatsQueries.vocabCensus(spark, sf))
    assert(a.cartesians == 0, s"cartesian in the vocab census chain: $a")
    assert(a.unpartitionedWindows == 0,
      s"partition-less window in the vocab census chain: $a")
    assert(a.shuffles <= 1L + 2L,
      s"vocab census shuffles ${a.shuffles} > pinned 1+2: $a")
  }

  test("memoized-stage builder: LM train+score chain keeps its shape") {
    val a = operators.PlanAudit.of(
      rawChain(queries.QualityModelQueries.lmDocCe(spark, sf)))
    assert(a.cartesians == 0, s"cartesian in the LM chain: $a")
    assert(a.shuffles <= 9L + 2L,
      s"LM chain shuffles ${a.shuffles} > pinned 9+2: $a")
  }

  for ((name, pinned) <- PlanGateSpec.measured.toSeq.sortBy(_._1)) {
    test(s"$name plan: zero cartesians, shuffles <= pinned ${pinned} + 2") {
      val a = PlanAudit.of(SparkEntry.queries(name)(spark, sf))
      assert(a.cartesians == 0,
        s"$name grew a cartesian product — cannot survive scale: $a")
      assert(a.shuffles <= PlanGateSpec.maxShuffles(name),
        s"$name shuffles ${a.shuffles} > pinned $pinned+2 — a broadcast " +
          s"likely degraded to a shuffle join (re-measure with " +
          s"PlanCounterSweepTool shuffles if the new shape is " +
          s"intentional): $a")
    }
  }
}
