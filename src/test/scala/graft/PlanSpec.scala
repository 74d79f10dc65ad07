package graft

import graft.operators.SessionDirMemo.rawChain

/** Physical-plan regression guards: the scale properties the engine's
  * 100 TB posture rests on, pinned as assertions so a plan regression
  * surfaces as a red test, not a bench mystery. Checked on sf0.001 — plan
  * SHAPE does not depend on the scale factor (only AQE's runtime choices
  * do, and these assertions target the static plan). */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** One static audit of EVERY declared query, shared by the blanket
    * guards below so the suite constructs each plan once (eager
    * queries — memo builders, GlobalRank/PrefixScan consumers — run real
    * sf0.001 work at construction; doing that once, not per-guard,
    * matters). */
  private lazy val fullSweep: Seq[(String, operators.PlanAudit.Audit)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> operators.PlanAudit.of(fn(spark, sf))
    }

  test("q01: filter and projection reach the parquet scan") {
    val p = plan("q01_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("no PushedFilters line"))
    // pruned read: the lineitem scan must not read all 16 columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment"), s"unpruned scan: $read")
  }

  test("q16: global sort + limit compiles to TakeOrderedAndProject") {
    assert(plan("q16_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q11: dimension joins broadcast (no shuffle of the small side)") {
    assert(plan("q11_join_topk").contains("BroadcastHashJoin"))
  }

  test("q65: binned range join is an equi join, never a nested loop") {
    assert(!plan("q65_range_join_binned").contains("BroadcastNestedLoopJoin"))
  }

  test("q61: the native as-of operator plans as AsofJoinExec") {
    assert(plan("q61_asof_native").contains("AsofJoin"))
  }

  test("q44: candidate generation is a keyed join, never a cross product") {
    val p = plan("q44_dedup_embedding")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "all-pairs shape crept back in")
  }

  test("q62: deterministic sampling stays a map-side filter (no shuffle)") {
    assert(!plan("q62_stratified_sample").contains("Exchange hashpartitioning"))
  }

  test("q84: the benchmark side of decontamination broadcasts") {
    val p = plan("q84_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "held-out grams were shuffled")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "all-pairs shape crept in")
  }

  test("q81: quantile boundaries broadcast back for classification") {
    assert(plan("q81_quartile_census").contains("BroadcastHashJoin"))
  }

  test("q87: skew report top-k compiles to TakeOrderedAndProject") {
    assert(plan("q87_skew_report").contains("TakeOrderedAndProject"))
  }

  test("q80/q86: masking and repetition stay shuffle-free projections") {
    assert(!plan("q80_mask_digits").contains("Exchange hashpartitioning"))
    assert(!plan("q86_repetition_filter").contains("Exchange hashpartitioning"))
  }

  test("q88: the whole funnel rides ONE hash exchange") {
    // three cascaded windows + the per-user aggregate all share the
    // user_id partitioning; a second hashpartitioning exchange means the
    // cascade broke and the funnel re-shuffles per stage
    val p = plan("q88_funnel")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n$p")
  }

  test("q59: agg, per-part min, and tie filter ride ONE hash exchange") {
    // the repartition(l_partkey) prefix-partitioning must satisfy both
    // the (l_partkey, l_suppkey) aggregate and the l_partkey window —
    // a second hashpartitioning exchange means the join-back shape (3
    // lineitem scans, 4 exchanges) crept back
    val p = plan("q59_min_cost_supplier")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n$p")
  }

  test("q210: two-nation Q7 plans broadcast dims and a pushed date range") {
    val p = plan("q210_two_nation_shipping")
    assert(p.contains("BroadcastHashJoin"), "dimension side was shuffled")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "non-equi shape crept in")
    // the shipdate range must reach the lineitem scan, not a post-filter
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("l_shipdate")), "shipdate range not pushed to the scan")
  }

  test("q202: the dup-census shuffle keys on the 8-byte embedding hash") {
    // the window's exchange must partition on xxhash64(embedding) — an
    // 8-byte near-uniform key — never the raw float payload: at 100 TB a
    // 64-float shuffle key is pure overhead in every exchange row and
    // hot-key comparison (round-9 advice). The (eh, embedding) window
    // spec rides the eh-only exchange via ClusteredDistribution subsumption.
    val p = plan("q202_embedding_audit")
    val keyed = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(keyed.exists(_.contains("eh#")), s"no eh-keyed exchange:\n$p")
    assert(!keyed.exists(_.contains("embedding#")),
      s"raw embedding array back in a shuffle key:\n${keyed.mkString("\n")}")
  }

  test("q97: every PageRank round is keyed joins, never a cross product") {
    val p = plan("q97_pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "an N x N shape crept into the rank iteration")
  }

  test("q100: fuzzy-match candidates come from a keyed equi-join") {
    val p = plan("q100_fuzzy_match")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the all-pairs product the SymSpell join exists to avoid is back")
  }

  test("q101: histogram bounds broadcast back for classification") {
    val p = plan("q101_histogram")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), // 1-row bounds crossJoin
      "bounds were shuffled instead of broadcast")
  }

  test("q106: unpivot is a generator expansion, zero exchanges before sort") {
    val p = plan("q106_unpivot")
    // the only exchange allowed is the final presentation orderBy's range
    // partitioning — the melt itself must not shuffle
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"unpivot shuffled: $exchanges exchanges\n$p")
  }

  test("q121: chunking is a generator expansion, zero exchanges before sort") {
    val p = plan("q121_chunk_overlap")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"chunking shuffled: $exchanges exchanges\n$p")
  }

  test("q117: interval-overlap join runs on the bin key, not a nested loop") {
    val p = plan("q117_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the keyless overlap join degenerated to a product")
  }

  test("q119: assortativity is keyed joins over the edge list") {
    val p = plan("q119_assortativity")
    assert(!p.contains("CartesianProduct"),
      "degree join degenerated to a product")
  }

  test("q108: triangle closure is keyed joins, never a cross product") {
    // q108 itself returns an eagerly-computed count row, so inspect the
    // lazy stage plans it is built from
    val (_, _, arcs) = rawChain(queries.TemporalQueries.q108Stages(spark, sf))
    val p = queries.TemporalQueries.q108Closure(arcs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "triangle join degenerated")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no equi join in triangle closure")
  }

  test("q109: point-in-time lookup is an equi join on user_id") {
    val p = plan("q109_scd2_pit")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "interval predicate planned as a nested loop instead of " +
        "equi-join + filter")
  }

  test("q128: pair mining is one scan with array expansion, no self-join") {
    // the r13 memo makes q128's own plan a checkpoint stub — gate the
    // raw basket-pair BUILDER, the same chain the memo materializes
    val p = rawChain(queries.TpchQueries.basketPairs(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "pair generation regressed to a self-join")
    // exactly one data scan: the basket array expands in-place
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("tuning builders: the raw chains behind the memo stubs keep " +
    "their adjudicated shapes (q270/q380/q381 — r18 verdict item 2)") {
    // declared q270/q380/q381/q382 plan as checkpoint stubs (the q128
    // pattern), so the cartesian/BNLJ/single-partition pins for the
    // corpus-scale work move to the rawChain builds. The pins
    // carry the pre-memo adjudications verbatim:
    //  - q380: 2 sp-exchanges (the n_vectors/n_truth 1-row scalars);
    //    4 BNLJs (the anchored-truth crossJoin listed twice — hit join
    //    + n_truth scalar, runtime ReuseExchange collapses them — plus
    //    the two 1-row scalar crossJoins), every broadcast bounded
    //  - q381: 5 sp-exchanges (n_vectors/n_truth/first_ok scalars, the
    //    truth/count pair re-listed under the chosen branch); 18 BNLJs
    //    (two capped-centroid assignment crossJoins — the Ivf O(cap)
    //    contract — the bounded 5-anchor truth arm, the 3-row lattice,
    //    and the scalars, multiplied by branch re-listing that runtime
    //    ReuseExchange collapses — the q362 pattern)
    //  - q270: 1 sp-exchange (the n_truth scalar); 1 BNLJ (its 1-row
    //    broadcast crossJoin)
    val pins = Seq(
      ("lshTuningTable", () => rawChain(queries.SimilarityQueries
        .lshTuningTable(spark, sf)), 2L, 4L),
      ("ivfTuningTable", () => rawChain(queries.SimilarityQueries
        .ivfTuningTable(spark, sf)), 5L, 18L),
      ("minhashTuningTable", () => rawChain(queries.DedupQueries
        .minhashTuningTable(spark, sf)), 1L, 1L))
    val bad = pins.flatMap { case (n, mk, spEx, bnlj) =>
      val a = operators.PlanAudit.of(mk())
      Seq(
        if (a.cartesians != 0L) Some(s"$n cartesians=${a.cartesians}")
        else None,
        if (a.singlePartitionExchanges != spEx)
          Some(s"$n spEx=${a.singlePartitionExchanges}!=$spEx") else None,
        if (a.nestedLoopJoins != bnlj)
          Some(s"$n bnlj=${a.nestedLoopJoins}!=$bnlj") else None).flatten
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("q130: the three lineitem FK edges share a single scan") {
    val p = plan("q130_ref_integrity")
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"lineitem scanned $lineitemScans times — edges not grouped by child")
    assert(p.contains("BroadcastHashJoin"), "parents must broadcast")
  }

  test("q133: rolling DAU explode is bounded, aggregation stays keyed") {
    val p = plan("q133_rolling_dau")
    assert(p.contains("Generate"), "day fan-out should be a generator")
    // the 1-row dmax bound rides a broadcast (BNLJ over one row is fine);
    // a CartesianProduct would mean the fact side got cross-joined
    assert(!p.contains("CartesianProduct"),
      "the dmax bound must broadcast, not cross-join the fact")
  }

  test("q132: token-budget fill is one window pass, no iterative driver loop") {
    val p = plan("q132_token_budget")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("q163: the EXISTS compiles to a semi join, not a correlated probe") {
    val p = plan("q163_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the lag predicate must ride the equi semi join as a condition")
  }

  test("q168: disjunctive predicates stay one broadcast equi join") {
    val p = plan("q168_disjunctive_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the OR straddling both sides must not degrade the join to a BNLJ")
  }

  test("q169: aggregation and window share ONE order-key exchange") {
    // the per-(order, supplier) aggregate and the three order-key windows
    // must all ride the explicit l_orderkey repartition (subset rule);
    // the only other exchange is the final per-supplier count — a second
    // l_orderkey exchange means the sharing broke
    val p = plan("q169_last_to_ship")
    val onOrderKey =
      "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size
    val total = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(onOrderKey == 1 && total == 2,
      s"expected 1 order-key + 1 supplier exchange, got $total total:\n$p")
  }

  test("q167: top-k big orders compiles to TakeOrderedAndProject") {
    assert(plan("q167_big_orders").contains("TakeOrderedAndProject"))
  }

  test("q170: dormant-customer probe is an anti join with broadcast stats") {
    val p = plan("q170_dormant_balances")
    assert(p.contains("LeftAnti"), p)
  }

  test("q172: per-doc gram novelty is shuffle-free (no explode, no agg)") {
    val p = plan("q172_ngram_novelty")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate"), "grams must stay array lambdas, not explode")
  }

  test("q180: Q6's date and quantity predicates reach the parquet scan") {
    val p = plan("q180_filtered_revenue")
    val pushed = p.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse("no PushedFilters line")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      pushed)
  }

  test("q176: simhash pair candidates ride a keyed band join") {
    val p = plan("q176_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the banded bucket join degraded to an all-pairs product")
  }

  /** The blanket guard behind all the per-query assertions above: NO
    * declared query may plan a CartesianProduct — the one physical
    * operator that cannot survive a 100× scale-up under any parameter.
    * (Bounded crossJoins of 1-row/centroid frames plan as
    * BroadcastNestedLoopJoin over a broadcast side, which is fine and
    * not flagged here.) Eagerly-evaluated queries (iterative operators
    * that return a collected census) execute on sf0.001 in milliseconds;
    * everything else only plans. */
  test("no declared query plans a CartesianProduct") {
    // PlanAudit.of, not plan-string grep: the typed walk also unwraps AQE
    // wrappers and descends into subquery plans, where a string match on
    // the top-level tree can miss a product (and is what PLANS.json — the
    // per-round plan-shape artifact Bench emits — counts, so the CI gate
    // and the artifact can never disagree).
    val offenders = fullSweep.collect {
      case (name, a) if a.cartesians > 0 => name
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  /** The second blanket guard (round-15 verdict task 3): a window with no
    * PARTITION BY plans as ONE task holding its entire input — fine over
    * a frame bounded by something other than data volume (score buckets,
    * sources, months, limit-k heads), fatal over anything corpus- or
    * vocabulary-scale (the q337/q349 defect r14 caught by hand; both now
    * ride PrefixScan). Every such site must be enrolled here with its
    * bounding set named — a NEW partition-less window fails the suite
    * until a human certifies its frame. Re-measure with
    * `Test/runMain graft.PlanCounterSweepTool unpartitioned_windows`. */
  test("no declared query grows an un-allowlisted partition-less window") {
    // query -> pinned count of partition-less WindowExec nodes, each over
    // a frame bounded by construction:
    val allow: Map[String, Long] = Map(
      "q141_benford" -> 1L, // 9 leading digits
      "q144_avg_e10_exact" -> 1L, // 1-row running-remainder frame
      "q194_hybrid_rrf" -> 2L, // two limit-k retrieval heads
      "q216_exact_kfold" -> 1L, // k fold summary rows
      "q220_matryoshka_audit" -> 1L, // prefix-length ladder (log2 d rows)
      "q236_ks_drift" -> 1L, // merged quantile grid (≤2·q points)
      "q254_hamilton_alloc" -> 2L, // seat table = bounded source set
      "q271_open_backlog" -> 1L, // daily backlog series (calendar-bounded)
      "q274_wasserstein" -> 1L, // shared quantile grid
      "q285_leaderboard_churn" -> 2L, // two limit-100 leaderboards
      "q297_waterfill_budget" -> 2L, // source-count frame
      "q298_gini_stump" -> 2L, // distinct split thresholds of 1 feature
      "q308_path_trigrams" -> 1L, // limit-50 trigram head
      "q312_top_movers" -> 1L, // rank over the 25-nation dimension
      "q315_sequential_ab" -> 2L, // calendar-day sequence of one A/B test
      "q320_anonymity_ladder" -> 1L, // k-anonymity ladder (distinct k)
      "q322_pr_curve" -> 1L, // score-bucket curve (bounded e-lattice)
      "q333_prf_expansion" -> 1L, // limit-k feedback docs
      "q334_ns_weights" -> 2L, // bounded frequency-bucket lattice
      "q347_multiple_testing" -> 2L, // p-value lattice of bounded tests
      "q362_dedup_sweep" -> 1L, // threshold sweep grid (7 rows)
      "q365_nb_threshold_sweep" -> 1L, // e1 score buckets (≤21 rows)
      "q372_lm_calibration" -> 1L, // clamped 0.05-nat buckets (≤21 rows)
      "q374_lm_cut_verdict" -> 1L, // same ≤21-row operating table
      // q375/q377 (r21): the quota chain is memoized — its bounded-source
      // ntile windows live only in the memo BUILD now, so both plans
      // carry zero partition-less windows
      "q379_policy_sensitivity" -> 4L, // the same two bounded-source ntiles × 2
      "q376_policy_gate" -> 1L, // q374's ≤21-row operating table
      "q367_quality_budget" -> 2L) // per-source tier table (bounded)
    // EXACT equality, not <= (ADVICE r15): an allowlisted query that
    // later LOSES its certified window would otherwise leave budget for
    // a brand-new un-certified window to appear in it at the same count
    // — the allowlist must track the measured counts exactly, the same
    // way PlanGateSpec pins shuffles.
    val offenders = fullSweep.collect {
      case (name, a) if a.unpartitionedWindows != allow.getOrElse(name, 0L) =>
        s"$name(${a.unpartitionedWindows}!=" +
          s"${allow.getOrElse(name, 0L)})"
    }
    assert(offenders.isEmpty,
      s"partition-less-window counts diverge from the certified-bounded " +
        s"allowlist (over = a new un-certified one-task window — use " +
        s"GlobalRank/PrefixScan or certify the bound here; under = a " +
        s"stale entry whose leftover budget would hide the next new " +
        s"one — re-measure with Test/runMain graft.PlanCounterSweepTool " +
        s"unpartitioned_windows): $offenders")
  }

  /** Substrate sharing gated as data (round-15 verdict task 6): the memo
    * story claims the q363–q372 family reads ONE materialized score
    * table; assert the consumers' plans literally embed the same
    * checkpoint leaf, so a broken memo (silently rebuilding per
    * consumer — each build re-running the corpus-scale token explode)
    * fails here by name instead of surfacing as a bench mystery. */
  private def leafIds(name: String): Seq[Int] =
    operators.CheckpointBlocks
      .leaves(SparkEntry.queries(name)(spark, sf)).map(_.rdd.id)

  test("nb-score memo substrate is shared by its consumers, not rebuilt") {
    val perConsumer = Seq("q363_nb_classifier", "q365_nb_threshold_sweep",
      "q371_nb_calibration").map(n => n -> leafIds(n))
    perConsumer.foreach { case (n, ids) =>
      assert(ids.nonEmpty, s"$n no longer plans over a checkpoint leaf")
    }
    val distinct = perConsumer.flatMap(_._2).distinct
    assert(distinct.size == 1,
      s"nbDocScores memo rebuilt per consumer — expected one shared " +
        s"leaf, got ${perConsumer.map { case (n, ids) => s"$n=$ids" }}")
  }

  test("lm-score memo substrate is shared by its consumers, not rebuilt") {
    // the lmDocCe twin of the gate above; q366 joins BOTH score tables,
    // so its leaf set must be exactly {nb leaf} ∪ {lm leaf} — a third
    // id means some consumer triggered a rebuild
    val lm = Seq("q364_lm_cross_entropy", "q372_lm_calibration",
      "q374_lm_cut_verdict").map(n => n -> leafIds(n))
    lm.foreach { case (n, ids) =>
      assert(ids.nonEmpty, s"$n no longer plans over a checkpoint leaf")
    }
    val lmLeaves = lm.flatMap(_._2).distinct
    assert(lmLeaves.size == 1,
      s"lmDocCe memo rebuilt per consumer — expected one shared leaf, " +
        s"got ${lm.map { case (n, ids) => s"$n=$ids" }}")
    val nbLeaves = leafIds("q363_nb_classifier").distinct
    val agree = leafIds("q366_gate_agreement").distinct.sorted
    assert(agree == (nbLeaves ++ lmLeaves).distinct.sorted,
      s"q366 must read exactly the two shared score leaves: " +
        s"got $agree, expected nb=$nbLeaves ∪ lm=$lmLeaves")
  }

  /** The sharing claim for q362's two sweep branches (per-bucket pair
    * curve × per-doc max-bucket census). Through r19 the shared
    * mined-pair chain was LAZY and the claim was 9 reused exchange
    * subtrees; the r20 optimization round materializes the bucketed
    * pair table once behind a localCheckpoint (the chain physically
    * runs ONCE — stronger than canonical-equality reuse), so the plan
    * is a checkpoint stub with no reusable exchanges left (measured:
    * 25 → 4 shuffles, 24 → 3 scans, 2.10 → 1.34 s at sf0.1). The pin
    * now holds the stub shape: reuse back above 0 means the checkpoint
    * was dropped and the branches went back to re-listing the chain.
    * Re-measure via PLANS.json's reused_exchanges on intentional
    * change. */
  test("q362: sweep branches stay canonically shared (reuse pinned)") {
    val a = fullSweep.find(_._1 == "q362_dedup_sweep").get._2
    assert(a.reusedExchanges == 0L,
      s"q362 static exchange reuse moved (${a.reusedExchanges} != 0) — " +
        s"the shared-chain checkpoint was dropped (or the chain was " +
        s"intentionally reshaped; re-measure and re-pin): $a")
  }

  /** The third blanket guard (round-15 verdict task 2): single-partition
    * exchanges were COUNTED into PLANS.json since r15 but nothing
    * asserted on them — a global `orderBy`/`coalesce(1)` sneaking into
    * an existing query would land in an artifact nobody diffs. Pinned
    * per query, exact equality (the window-gate discipline): over = a
    * new everything-into-one-task funnel; under = a stale pin. The
    * pinned population is overwhelmingly global scalar aggregates,
    * whose exchange carries ~1 pre-aggregated row per upstream
    * partition (map-side combine) — fine at any scale; what this gate
    * rejects is the OTHER producer of the shape, a full-data global
    * sort or repartition(1), appearing where a bounded one used to be.
    * q332's 12 — the map's ceiling — is 6 column censuses × 2 global
    * scalar aggregates each, adjudicated r16. Re-measure with
    * `Test/runMain graft.PlanCounterSweepTool single_partition_exchanges`. */
  test("single-partition exchange counts stay pinned per query") {
    val pinned: Map[String, Long] = Map(
      "q101_histogram" -> 1L,
      "q119_assortativity" -> 1L,
      // q129/q194/q333 (r20): the bm25e6 chain is memoized — its 1-row
      // corpus-stats aggregate (the single-partition exchange and the
      // stats crossJoin BNLJ) now lives in the memo build, so the
      // declared plans are stubs with none left.
      "q130_ref_integrity" -> 4L,
      "q133_rolling_dau" -> 1L,
      "q139_temperature_mix" -> 1L,
      "q141_benford" -> 1L,
      "q144_avg_e10_exact" -> 1L,
      "q155_forget_cascade" -> 3L,
      "q168_disjunctive_join" -> 1L,
      "q170_dormant_balances" -> 1L,
      // q174/q185/q257 (r21): withRankN embeds the rank pass's own
      // row count, so the per-scorer count() aggregate (the single-
      // partition exchange) and its broadcast cross join (the BNLJ)
      // are gone from the declared plans.
      "q174_decile_migration" -> 0L,
      "q179_running_revenue" -> 1L,
      "q180_filtered_revenue" -> 1L,
      "q181_important_stock" -> 1L,
      "q184_join_cardinality" -> 2L,
      "q185_equidepth_bounds" -> 0L,
      "q19_above_avg" -> 1L,
      "q205_top_supplier" -> 1L,
      "q206_small_qty_revenue" -> 1L,
      "q209_collocations" -> 1L,
      "q212_dsir_resample" -> 3L,
      "q215_modularity" -> 1L,
      "q216_exact_kfold" -> 1L,
      "q221_t_closeness" -> 1L,
      "q234_quantile_norm" -> 1L,
      "q236_ks_drift" -> 2L,
      "q250_lsh_mrr" -> 1L,
      "q251_date_dim" -> 1L,
      "q254_hamilton_alloc" -> 2L,
      "q257_rfm_census" -> 0L,
      "q266_sparse_cosine" -> 4L,
      "q267_item_recs" -> 1L,
      "q269_diff_in_diff" -> 1L,
      // q270/q380/q381: memoized tuning chains (r18 verdict item 2) —
      // the declared plans are checkpoint stubs; the raw chains' scalar
      // sites are gated in the "tuning builders" test below
      "q271_open_backlog" -> 1L,
      "q272_abc_classes" -> 1L,
      "q274_wasserstein" -> 2L,
      "q275_stitched_sessions" -> 2L,
      "q279_active_coverage" -> 1L,
      "q282_revenue_bridge" -> 1L,
      "q287_heaps_curve" -> 2L,
      "q288_effective_dim" -> 2L,
      "q290_power_table" -> 1L,
      "q293_backlog_aging" -> 1L,
      "q296_blocklist" -> 1L,
      "q297_waterfill_budget" -> 4L,
      "q298_gini_stump" -> 4L,
      "q301_chi2_independence" -> 3L,
      "q307_logrank" -> 1L,
      "q312_top_movers" -> 2L,
      "q315_sequential_ab" -> 2L,
      "q320_anonymity_ladder" -> 5L,
      "q322_pr_curve" -> 2L,
      "q323_mcnemar" -> 1L,
      "q324_cohen_kappa" -> 1L,
      "q329_kneser_ney" -> 1L,
      "q330_bloom_fpp" -> 2L,
      "q332_dict_encoding" -> 12L,
      "q334_ns_weights" -> 2L,
      "q336_permutation_test" -> 2L,
      "q337_coverage_curve" -> 1L,
      "q338_filter_agreement" -> 3L,
      "q340_ab_srm" -> 1L,
      "q342_brier_decomposition" -> 4L,
      "q344_salt_planner" -> 4L,
      "q345_cuped" -> 1L,
      "q347_multiple_testing" -> 2L,
      "q349_knee_detection" -> 1L,
      "q350_pmi_census" -> 1L,
      "q351_kl_drift" -> 1L,
      "q352_info_gain" -> 4L,
      "q354_corpus_attrition" -> 6L,
      "q357_release_audit" -> 5L,
      "q358_fleiss_kappa" -> 1L,
      "q361_keeper_policy" -> 2L,
      "q362_dedup_sweep" -> 1L,
      "q365_nb_threshold_sweep" -> 2L,
      "q366_gate_agreement" -> 1L,
      "q367_quality_budget" -> 3L,
      "q372_lm_calibration" -> 1L,
      "q373_nb_gate_verdict" -> 1L,
      "q374_lm_cut_verdict" -> 2L,
      // q375 (r21): memo stub — zero single-partition exchanges
      "q376_policy_gate" -> 2L,
      // q377 (r21): only the audit's own 1-row t_total remains; the
      // quota chain's global-scalar partials moved into the memo build
      "q377_policy_mix_audit" -> 1L,
      // q379: q375-class global-scalar partials (two weighted totals +
      // the verdict chain's) — bounded map-side-combined aggregates
      "q379_policy_sensitivity" -> 4L,
      // q382: the three tuning tables are memo stubs (≤3 rows each);
      // the one remaining site is the minhash-pick 1-row global
      // aggregate over q270's ≤3-row stub — bounded by construction
      "q382_index_sizing_plan" -> 1L,
      // q391: the 1-row ANOVA totals aggregate (map-side-combined over
      // k group rows) — the q301 "attach the global total" idiom
      "q391_anova_f" -> 1L,
      // q392: the jackknife's totals/θ̄/variance chain — every global
      // aggregate reads the ≤31-row day table (the fact table is
      // reduced by ONE keyed day aggregation first); the day subplan
      // recurs un-reused under tot/bar/jk, hence 5 bounded sites
      "q392_jackknife_day" -> 5L,
      "q64_tfidf" -> 1L,
      // q66: the report's one global aggregate (every check's pair in one
      // map-side-combined row, unpivoted after) — the q94_profile shape
      "q66_quality_report" -> 1L,
      "q83_heavy_hitters" -> 1L,
      "q87_skew_report" -> 1L,
      "q88_funnel" -> 1L,
      "q92_balance_sources" -> 2L,
      "q94_profile" -> 1L)
    val offenders = fullSweep.collect {
      case (name, a)
          if a.singlePartitionExchanges != pinned.getOrElse(name, 0L) =>
        s"$name(${a.singlePartitionExchanges}!=" +
          s"${pinned.getOrElse(name, 0L)})"
    }
    assert(offenders.isEmpty,
      s"single-partition exchange counts diverge from the pins (over = " +
        s"a global orderBy/coalesce(1)/repartition(1) crept in — " +
        s"restructure or adjudicate + re-pin; under = stale pin — " +
        s"re-measure with Test/runMain graft.PlanCounterSweepTool " +
        s"single_partition_exchanges): $offenders")
  }

  /** The fourth blanket guard: every BroadcastNestedLoopJoin in the
    * suite (131 sites across 77 queries, r12-adjudicated: all
    * broadcasts of 1-row/centroid/bounded frames — the crossJoin idiom
    * for "attach the global total") pinned EXACTLY per query. What this
    * rejects is the join-DEGRADATION class several per-query tests
    * assert locally (q65/q44/q84/q100/q117/q163/q168…), now suite-wide:
    * an equi join silently losing its keys (a non-equi predicate edit,
    * a disjunction straddling both sides) replans as a BNLJ over a
    * DATA-side broadcast, which is an N×M disaster at scale — it would
    * land here as an over-pin in the exact query that degraded.
    * Re-measure with `Test/runMain graft.PlanCounterSweepTool
    * nested_loop_joins` after an intentional bounded-frame crossJoin. */
  test("nested-loop-join counts stay pinned per query (bounded " +
    "broadcasts only)") {
    val pinned: Map[String, Long] = Map(
      "q101_histogram" -> 1L,
      // q129/q333 (r20): bm25 stats BNLJ moved into the memo build
      "q133_rolling_dau" -> 1L,
      "q138_vocab_overlap" -> 1L,
      "q139_temperature_mix" -> 1L,
      // q149 (r21): the pqFits memo turned the per-subspace assign
      // crossJoins into checkpoint stubs — zero BNLJs left in its plan;
      // q161 keeps exactly one (the qTables broadcast onto the code
      // table — the fused distance-table build replaced the 4
      // per-subspace cents crossJoins with one equi join on the
      // subspace id)
      "q161_adc_scan" -> 1L,
      "q170_dormant_balances" -> 1L,
      // q174/q185/q257 (r21): withRankN embeds the rank pass's own
      // row count, so the per-scorer count() aggregate (the single-
      // partition exchange) and its broadcast cross join (the BNLJ)
      // are gone from the declared plans.
      "q174_decile_migration" -> 0L,
      "q179_running_revenue" -> 1L,
      "q181_important_stock" -> 1L,
      "q182_conversion_survival" -> 1L,
      "q184_join_cardinality" -> 1L,
      "q185_equidepth_bounds" -> 0L,
      "q194_hybrid_rrf" -> 1L, // vector-arm qv crossJoin (bm25 memoized, r20)
      "q199_quality_sweep" -> 1L,
      "q19_above_avg" -> 1L,
      "q209_collocations" -> 1L,
      "q212_dsir_resample" -> 3L,
      "q215_modularity" -> 1L,
      "q220_matryoshka_audit" -> 4L,
      "q221_t_closeness" -> 2L,
      "q229_anchor_auc" -> 1L,
      "q232_ann_recall" -> 1L,
      "q234_quantile_norm" -> 1L,
      "q236_ks_drift" -> 1L,
      "q240_ks_matrix" -> 2L,
      "q248_youden_threshold" -> 1L,
      "q250_lsh_mrr" -> 1L,
      "q254_hamilton_alloc" -> 1L,
      "q256_ab_significance" -> 1L,
      "q257_rfm_census" -> 0L,
      "q266_sparse_cosine" -> 4L,
      "q267_item_recs" -> 1L,
      // q270/q380/q381/q382: memoized tuning chains (r18 verdict item
      // 2) plan as checkpoint stubs — raw chains gated below
      "q272_abc_classes" -> 1L,
      "q274_wasserstein" -> 1L,
      "q279_active_coverage" -> 1L,
      "q281_lsh_ndcg" -> 1L,
      "q287_heaps_curve" -> 2L,
      "q288_effective_dim" -> 1L,
      "q290_power_table" -> 1L,
      "q293_backlog_aging" -> 1L,
      "q296_blocklist" -> 1L,
      "q297_waterfill_budget" -> 3L,
      "q298_gini_stump" -> 3L,
      "q301_chi2_independence" -> 3L,
      "q302_source_tvd" -> 4L,
      "q306_label_noise" -> 1L,
      "q310_jl_audit" -> 1L,
      "q312_top_movers" -> 1L,
      "q315_sequential_ab" -> 1L,
      "q322_pr_curve" -> 1L,
      "q329_kneser_ney" -> 1L,
      "q330_bloom_fpp" -> 1L,
      "q332_dict_encoding" -> 6L,
      "q334_ns_weights" -> 1L,
      "q336_permutation_test" -> 2L,
      "q337_coverage_curve" -> 2L,
      "q342_brier_decomposition" -> 3L,
      "q345_cuped" -> 1L,
      "q347_multiple_testing" -> 3L,
      "q349_knee_detection" -> 1L,
      "q350_pmi_census" -> 1L,
      "q351_kl_drift" -> 2L,
      "q352_info_gain" -> 5L,
      "q355_pack_sweep" -> 1L,
      "q365_nb_threshold_sweep" -> 1L,
      "q367_quality_budget" -> 1L,
      "q369_gate_ablation" -> 1L,
      "q374_lm_cut_verdict" -> 1L,
      // q375 (r21): memo stub — its 1-row-frame crossJoins live in the
      // memo build only
      "q376_policy_gate" -> 2L,
      // q377 (r21): only the audit's own broadcast(t_total) crossJoin
      // remains in the consumer plan
      "q377_policy_mix_audit" -> 1L,
      // q379: the 1-row totals + 1-row verdict crossJoins — bounded frames
      "q379_policy_sensitivity" -> 2L,
      // q382: zero — the tuning chains are memo stubs and the minhash-
      // pick crossJoin's equality filter re-plans as a broadcast equi
      // join; the chains behind the stubs are gated below
      // q384: every nested-loop site is a bounded broadcast — the
      // 1-row ring-closing first-vector crossJoin (re-listed under the
      // image table's consumers) and the two 20-row anchor-set
      // crossJoins (the q220/q50 bounded audit family), as the plan
      // lists them across the t2i/i2t branches before runtime
      // ReuseExchange collapses the duplicates (the q362 pattern)
      "q384_crossmodal_retrieval" -> 7L,
      // q391: one crossJoin(broadcast(tot)) — a 1-row totals frame
      "q391_anova_f" -> 1L,
      // q395: the k-row segment-type self-join (a < b pair census over
      // the ≤5-row distinct-types frame) — duplicated under the sides
      // union, both sides bounded type frames, never data
      "q395_mann_whitney" -> 2L,
      // q392: the del×tot (1-row), del×bar (1-row), del×jk (1-row)
      // crossJoins, with the del→tot subplan recurring un-reused — all
      // five sites broadcast ≤31-row jackknife frames, never data
      "q392_jackknife_day" -> 5L,
      "q50_knn_cosine" -> 1L,
      "q56_knn_ivf" -> 2L,
      "q64_tfidf" -> 1L,
      "q87_skew_report" -> 1L,
      "q92_balance_sources" -> 2L)
    val offenders = fullSweep.collect {
      case (name, a)
          if a.nestedLoopJoins != pinned.getOrElse(name, 0L) =>
        s"$name(${a.nestedLoopJoins}!=${pinned.getOrElse(name, 0L)})"
    }
    assert(offenders.isEmpty,
      s"nested-loop-join counts diverge from the adjudicated pins " +
        s"(over = an equi join degraded to a BNLJ, or a new bounded " +
        s"crossJoin needs adjudicating + re-pinning; under = stale " +
        s"pin — re-measure with PlanCounterSweepTool " +
        s"nested_loop_joins): $offenders")
  }
}
