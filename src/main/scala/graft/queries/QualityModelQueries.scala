package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.{Rounding, TextAnalysis}
import graft.operators.SessionDirMemo.pin

/** TRAINED-model quality filters — the two standard learned gates a
  * 100 TB pretraining pipeline runs after the rule-based screens
  * (QualityQueries) and before mixing (CurationQueries):
  *
  *   - q363: a multinomial Naive-Bayes reference-vs-rest classifier (the
  *     GPT-3/CCNet "looks like the reference corpus" quality gate) —
  *     trained, applied to a held-out split, and emitted as a confusion
  *     census so the gate's precision/recall is itself an oracle-checked
  *     fact, not a promise.
  *   - q364: an add-one bigram language-model cross-entropy scorer (the
  *     CCNet perplexity filter) — trained on the reference slice, scoring
  *     EVERY document, emitted as a per-language census that directly
  *     exhibits the filter's separation (reference-like text scores low).
  *
  * Both are pure aggregation + join pipelines: train = one explode + one
  * map-side-combined count aggregation (model is VOCAB-scale, never
  * corpus-scale); apply = explode + model join (broadcast when the model
  * fits, AQE decides) + per-doc re-aggregation; census = a bounded-key
  * aggregate. No UDFs, no driver-side loops, no iteration — one pass to
  * train, one to score, at any corpus size.
  *
  * Float discipline is the q350/q115 house pattern: every ln runs on a
  * ratio of exact-in-double integer products (documented bound: factors
  * < 2^53), each term floors onto the e6 grid BEFORE any cross-row sum,
  * so the only order-sensitive float step is eliminated — per-doc scores
  * and census sums are exact int64 on both engines. */
object QualityModelQueries extends QueryPack {

  import Rounding.{intDiv, intDivSql}

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def dbl(c: Column): Column = c.cast("double")

  /** The 80/20 train/held-out split, md5-uniform on doc_id — NOT
    * `doc_id % 5`: ids here encode the source (doc_id % 20 IS the source
    * index), so a modulus split silently partitions by source — four
    * sources would never be trained on and be the only ones evaluated
    * (the q357 stage-salting lesson, re-learned at model-train time). */
  private[graft] def isTrain(id: Column): Column =
    graft.functions.Hashing.md5U32(id.cast("string")) % 5 =!= 0
  private def isTrainSql(e: String): String =
    s"${graft.functions.Hashing.md5U32Sql(s"CAST($e AS VARCHAR)")} % 5 <> 0"

  /** Shared NB scoring chain — train on the 80% split, score the
    * held-out 20%: (doc_id, y, source, score_e6). Consumers: q363's
    * confusion census, q365's threshold sweep, q366's gate-agreement
    * census, q367's budget table, q368's review sample — FIVE standalone
    * queries over one bit-identical table, so it rides a per-(session,
    * dir) [[graft.operators.SessionDirMemo]] (the
    * co-order-graph/basket-pair playbook: build once, stubs thereafter).
    * The raw chain stays reachable via `SessionDirMemo.rawChain` for the
    * PlanGateSpec builder gate — memoized consumers plan as checkpoint
    * stubs, so the gate audits the chain, not the stub. At 100 TB a
    * production run materializes the per-doc score table once anyway;
    * the memo is the local analogue. */
  /** The trained (model, totals) pair, memoized per (session, dir) — the
    * corpus-scale token explode + vocab aggregation behind it is the
    * family's most expensive stage, and q369 needs the MODEL (to score
    * the build's survivors) rather than the held-out score table, so the
    * memo boundary sits one level below [[nbDocScores]]. An evicted
    * pair's checkpoints are freed by ContextCleaner once unreachable. */
  private val nbModelMemo = new graft.operators.SessionDirMemo[
    (DataFrame, DataFrame)]
  private[graft] def nbModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import graft.operators.QualityModels
    val train = docs(s, dir).filter(isTrain(col("doc_id")))
      .select(col("text"), (col("lang") === "en").cast("long").as("y"))
    nbModelMemo.get(s, dir) {
      // pin the MODEL first and derive the counts half of totals from
      // the materialized frame: pinning totals off the lazy model plan
      // would run the corpus-scale token explode — the family's most
      // expensive stage — a second time (ADVICE r14). Unpinned, this is
      // exactly trainNb's own (model, totals) pair.
      val m = pin(QualityModels.trainNb(train, "text", "y")._1)
      (m, pin(QualityModels.nbTotals(m, train, "y")))
    }
  }

  private[graft] val nbScoresMemo = new graft.operators.SessionDirMemo[DataFrame]
  private[graft] def nbDocScores(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityModels
    nbScoresMemo.get(s, dir) {
      val (model, totals) = nbModel(s, dir)
      pin(QualityModels.scoreNb(
        docs(s, dir).filter(!isTrain(col("doc_id")))
          .select(col("doc_id"), col("text"), col("source"),
            (col("lang") === "en").cast("long").as("y")),
        Seq("doc_id", "y", "source"), "text", model, totals))
    }
  }

  /** Naive-Bayes reference-vs-rest quality classifier, trained AND
    * audited in one query. Weak label: lang = 'en' (the reference-corpus
    * stand-in — the classic gate trains "WebText vs CommonCrawl"; the
    * synthetic corpus's analogue is its English slice). Deterministic
    * md5-uniform 80/20 split on doc_id ([[isTrain]]) keeps the audit
    * honest: the model never sees the docs it is scored on, and the
    * split is independent of every id-encoded attribute. Per-token log-likelihood ratio with
    * Laplace smoothing,
    *   llr(t) = ln[ (c_pos(t)+1)·(N_neg+V) ] − ln[ (c_neg(t)+1)·(N_pos+V) ],
    * each token's llr floored to the e6 grid; a held-out doc's score is
    * the EXACT long sum of its tokens' llr_e6 (multiplicity counted —
    * multinomial NB) plus the e6 class prior ln(d_pos/d_neg). Tokens
    * unseen in training fall out of the same formula at c=0 via the left
    * join's coalesce — no special case. Output: the confusion census
    * (actual × predicted-at-threshold-0) with doc counts and exact
    * score-sum/min/max per cell — the numbers a pipeline owner reads to
    * set the gate's threshold and know its false-positive cost.
    * Scale: model build is one token-keyed count aggregation (vocab-scale
    * result); scoring joins the token stream to the model on its key and
    * re-aggregates per doc; the census is 4 rows. The 1-row totals ride a
    * broadcast. Ln-argument factors stay < 2^53 up to ~4·10^15 training
    * tokens per class — beyond that, shift the lattice construction to
    * decimal products (documented bound, q286 convention). */
  private def q363(s: SparkSession, dir: String): DataFrame =
    nbDocScores(s, dir)
      .select(col("y").as("actual_en"),
        (col("score_e6") > 0L).cast("long").as("predicted_en"),
        col("score_e6"))
      .groupBy("actual_en", "predicted_en")
      .agg(count(lit(1)).as("n_docs"),
        // decimal accumulation (sumCents): a raw long sum would WRAP
        // silently past 2^63 where the oracle's HUGEINT sum stays exact
        // — the Rounding.scala divergence channel
        Rounding.sumCents(col("score_e6")).as("sum_score_e6"),
        min("score_e6").as("min_score_e6"),
        max("score_e6").as("max_score_e6"))
      .orderBy("actual_en", "predicted_en")

  /** Add-one bigram LM cross-entropy scorer — the CCNet perplexity
    * filter's exact-integer twin. Trained on the reference slice (the
    * English training split, consistent with q363's reference), the model
    * is two vocab-scale tables: bigram counts c12(w1,w2) and context
    * counts c1(w1) = Σ_w2 c12. Every document (all languages, both
    * splits) is scored by its mean per-bigram negative log-probability
    *   nll(w1,w2) = ln( (c1(w1)+V) / (c12(w1,w2)+1) )   [add-one],
    * each term e6-floored before the per-doc sum, the mean an exact
    * truncating division of non-negative longs (nll ≥ 0 always:
    * c1 ≥ c12 and V ≥ 1). Unseen contexts and bigrams fall out of the
    * same formula at c=0 via left-join coalesce. Output: per-language
    * census — doc count, mean/min/max cross-entropy (e6 nats), and how
    * many docs a gate at 3.4 nats would drop — the table a pipeline
    * owner reads to place the CCNet head/middle/tail cut points.
    * Scale: bigram build is the q321/q329 per-doc lead window (doc-keyed,
    * never global); model joins are key-partitioned (broadcast when the
    * vocab fits); census keys are the bounded language set. */
  /** (doc_id, lang, ce_e6) for every multi-token doc; q364 + q366
    * consume, so it memoizes like [[nbDocScores]]. */
  private[graft] val lmCeMemo = new graft.operators.SessionDirMemo[DataFrame]
  private[graft] def lmDocCe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityModels
    lmCeMemo.get(s, dir) {
      val base = docs(s, dir)
      val (big, ctx, vocab) = QualityModels.trainLm(
        base.filter(col("lang") === "en" && isTrain(col("doc_id"))),
        "doc_id", "text")
      pin(QualityModels.scoreLm(base, Seq("doc_id", "lang"), "text",
        big, ctx, vocab))
    }
  }

  /** Per-language census over [[lmDocCe]] — see the chain doc above for
    * the model; this emits doc count, mean/min/max cross-entropy (e6
    * nats) and the would-drop count at the 3.4-nat gate per language.
    * The 3.4-nat cut itself is certified (or moved) by q374's verdict
    * row over q372's operating table. */
  private def q364(s: SparkSession, dir: String): DataFrame =
    lmDocCe(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        // intDivExact, not intDiv: the per-language Σce_e6 outgrows
        // intDiv's 2^53 dividend ceiling near ~4.5e8 docs per language —
        // well inside the design point (siblings q365/q366/q367 already
        // divide exactly for the same reason)
        Rounding.intDivExact(sum(col("ce_e6").cast("decimal(38,0)")),
          count(lit(1))).as("mean_ce_e6"),
        min("ce_e6").as("min_ce_e6"),
        max("ce_e6").as("max_ce_e6"),
        sum((col("ce_e6") > LmCutCeE6).cast("long")).as("n_above_gate"))
      .orderBy("lang")

  /** Threshold sweep over the TRAINED classifier's held-out scores — the
    * operating-point table that actually SETS q363's gate (q322 sweeps a
    * value stump; this sweeps the learned score). The q322 scale lever
    * verbatim: scores bucket onto the e1 grid (0.1-nat buckets —
    * bucket = floor(score_e6 / 10⁵)), so the curve's row count is the
    * DISTINCT-BUCKET count, never the held-out corpus; one aggregation
    * counts per-bucket positives/negatives, one cumulative window over
    * the bounded bucket table sweeps the threshold from the most
    * reference-like score down, and precision/recall are exact e6
    * rationals at every operating point. Named consumer: the threshold
    * a pipeline owner picks for the q363 screen ahead of q353's quality
    * stage — "keep everything scoring above bucket b" reads precision
    * and recall straight off row b. */
  private def q365(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val scored = nbDocScores(s, dir)
      .select(
        floor(dbl(col("score_e6")) / lit(100000.0)).cast("long")
          .as("bucket"),
        col("y").as("pos"))
    val buckets = scored.groupBy("bucket")
      .agg(sum("pos").as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = scored.agg(sum("pos").as("p_total"))
    buckets
      .withColumn("tp", sum("n_pos").over(w))
      .withColumn("fp", sum("n_neg").over(w))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        col("tp"), col("fp"),
        intDivExact(
          col("tp").cast("decimal(38,0)") * lit(2000000L) +
            (col("tp") + col("fp")),
          lit(2L) * (col("tp") + col("fp"))).as("precision_e6"),
        // no positives in the held-out split → recall undefined: agreed
        // NULL on both engines (DuckDB's // would error on /0 where
        // non-ANSI Spark would emit NULL — pin the behavior explicitly)
        when(col("p_total") === 0L, lit(null).cast("long"))
          .otherwise(intDivExact(
            col("tp").cast("decimal(38,0)") * lit(2000000L) +
              col("p_total"),
            lit(2L) * col("p_total"))).as("recall_e6"))
      .orderBy(col("bucket").desc)
  }

  /** NB ⇄ LM gate-agreement census — the drop-one-gate decision for the
    * two trained screens: over the held-out docs both models score, how
    * often does "NB says reference-like" (score > 0) agree with "LM says
    * in-distribution" (ce ≤ 3.4 nats)? One row: the 2×2 cell counts,
    * raw agreement, and Cohen's κ (the q324 exact signed rational on the
    * common n² denominator; unanimous marginals → NULL, the q358
    * convention). κ → 1 means the perplexity gate is a redundant copy of
    * the classifier (run the cheaper one); κ → 0 means they screen
    * different failure modes (chain them and budget for the multiplied
    * drop rate — the q338 reading, now for the LEARNED gates). Scale:
    * both inputs are per-doc score tables keyed by doc_id; the join is
    * key-partitioned and the census is one map-side-combined aggregation. */
  private def q366(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val flags = nbDocScores(s, dir)
      .select(col("doc_id"), (col("score_e6") > 0L).cast("long").as("nb"))
      .join(lmDocCe(s, dir)
        .select(col("doc_id"),
          (col("ce_e6") <= LmCutCeE6).cast("long").as("lm")),
        "doc_id")
    flags
      .agg(count(lit(1)).as("n"),
        sum((col("nb") === 1L && col("lm") === 1L).cast("long"))
          .as("n_both_keep"),
        sum((col("nb") === 1L && col("lm") === 0L).cast("long"))
          .as("n_nb_only"),
        sum((col("nb") === 0L && col("lm") === 1L).cast("long"))
          .as("n_lm_only"),
        sum((col("nb") === 0L && col("lm") === 0L).cast("long"))
          .as("n_both_drop"))
      .select(col("n"), col("n_both_keep"), col("n_nb_only"),
        col("n_lm_only"), col("n_both_drop"),
        intDivExact(
          (col("n_both_keep") + col("n_both_drop")).cast("decimal(38,0)") *
            lit(2000000L) + col("n"),
          lit(2L) * col("n")).as("p_o_e6"),
        {
          val n = col("n").cast("decimal(38,0)")
          val agree = (col("n_both_keep") + col("n_both_drop"))
            .cast("decimal(38,0)")
          val r1 = (col("n_both_keep") + col("n_nb_only"))
            .cast("decimal(38,0)")
          val c1 = (col("n_both_keep") + col("n_lm_only"))
            .cast("decimal(38,0)")
          val den = n * n - r1 * c1 - (n - r1) * (n - c1)
          when(den === 0L, lit(null).cast("long")).otherwise(
            intDivExact(
              (agree * n - r1 * c1 - (n - r1) * (n - c1)) * lit(1000000L),
              den)).as("kappa_e6")
        })
  }

  /** Quality-tiered token-budget allocation — the GPT-3-style sampling
    * table, derived from the TRAINED gate instead of hand weights: per
    * source, the held-out mean NB score ranks sources into three quality
    * tiers (ntile over the bounded source set, ties broken by name), each
    * tier gets an integer sampling multiplier (3/2/1 — top tier is
    * upsampled 3×ies), and a fixed 10⁸-token budget is split
    * quota_s = budget · tokens_s·mult_s / Σ(tokens·mult) — every step an
    * exact integer rational, including the per-source epoch factor
    * quota/tokens (e4: > 10⁴ means that source repeats within the
    * budget). Named consumer: the mixing weights feeding q353's mix
    * stage — this is the query that turns "the classifier works" (q363)
    * into "here is each source's token quota". The mean-score tier
    * ranking this table rests on is itself certified by q373's verdict
    * row (q371's curve reduced to a decision): policy
    * `mean_score_tiers` keeps this construction; `rank_by_emp_rate` is
    * the prescribed re-ranking when the gate's probability claim fails
    * its calibration bound. Scale: per-doc scores aggregate to the
    * bounded source set; everything after is source-cardinality
    * arithmetic behind one 1-row broadcast. */
  private def q367(s: SparkSession, dir: String): DataFrame = {
    val perSourceSums = nbDocScores(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_scored"),
        // decimal accumulation — same wrap-avoidance as q363's census
        sum(col("score_e6").cast("decimal(38,0)")).as("sum_score_e6"))
    val tokens = docs(s, dir).groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
    quotaTable(perSourceSums, tokens)
  }

  /** q367's tier/quota arithmetic over BOUNDED per-source aggregates —
    * split out so the streaming twin (StreamingSpec) can RE-DERIVE the
    * quota table each micro-batch from incrementally-maintained
    * per-source running sums: the sums commute with batching, the
    * derivation reads only the bounded state, so the incremental table
    * equals the batch table at every arrival prefix.
    * @param perSourceSums (source, n_docs_scored, sum_score_e6
    *        decimal(38,0)) over SCORED docs — sources with none stay out
    *        and surface via the token left join with a null tier
    * @param tokens (source, n_tokens) over all docs. */
  private[graft] def quotaTable(perSourceSums: DataFrame,
      tokens: DataFrame): DataFrame = {
    import Rounding.intDivExact
    val budget = 100000000L
    val perSource = perSourceSums
      .select(col("source"), col("n_docs_scored"),
        intDivExact(col("sum_score_e6"),
          col("n_docs_scored")).as("mean_score_e6"))
    // tiers rank only the SCORED sources; a source whose docs all hashed
    // into the training split has no quality estimate and must SURFACE
    // in the table with a null tier and a zero quota — silently dropping
    // it (the inner-join form) would reallocate its share with no signal
    val w = Window.orderBy(col("mean_score_e6").desc, col("source"))
    val scoredTiered = perSource
      .withColumn("tier", ntile(3).over(w).cast("long"))
    val tiered = tokens.join(scoredTiered, Seq("source"), "left")
      .withColumn("n_docs_scored", coalesce(col("n_docs_scored"), lit(0L)))
      .withColumn("mult", coalesce(lit(4L) - col("tier"), lit(0L)))
      .withColumn("wtok",
        col("n_tokens").cast("decimal(38,0)") * col("mult"))
    val tot = tiered.agg(sum("wtok").as("wtot"))
    tiered.crossJoin(broadcast(tot))
      // wtot = 0 (no source has scored docs) → agreed NULL quota: guard
      // here, NULLIF in the oracle — unguarded, Spark's non-ANSI decimal
      // /0 yields NULL while DuckDB's // raises (ADVICE r16)
      .withColumn("quota_tokens", when(col("wtot") > 0L,
        intDivExact(col("wtok") * lit(budget), col("wtot"))))
      .withColumn("epochs_e4", intDivExact(
        col("quota_tokens").cast("decimal(38,0)") * lit(10000L),
        col("n_tokens")))
      .select(col("source"), col("n_docs_scored"), col("mean_score_e6"),
        col("tier"), col("mult"), col("n_tokens"), col("quota_tokens"),
        col("epochs_e4"))
      .orderBy("source")
  }

  /** Boundary-band inspection sample — the human-review queue every
    * deployed gate needs: per source, the 3 kept docs the classifier was
    * LEAST sure about (lowest positive score) and the 3 dropped docs it
    * was least sure about (highest non-positive score). Reviewing the
    * disagreement band is how a gate's threshold gets audited in
    * practice — confident decisions teach a reviewer nothing. Emits
    * (source, side, rank, doc_id, score_e6), deterministic tie-break
    * (score, doc_id). Scale: the q306/q321 bounded [[graft.functions
    * .TopKByValue]] aggregate, NOT a row_number window — the exchange
    * carries ≤ 3·sources·tasks rows, never the held-out corpus; the
    * score rides inside the aggregate's value slot (±score_e6 ≪ 2⁵³ is
    * exact in the double), so no join back to recover it. */
  private def q368(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val topk = udaf(new graft.functions.TopKByValue(3),
      ExpressionEncoder[graft.functions.Scored]())
    val scored = nbDocScores(s, dir)
    // sign: +1 keeps the aggregate's (value desc, id asc) contract equal
    // to "score desc" (drop_best), −1 flips it to "score asc" (keep_worst)
    def band(df: DataFrame, side: String, sign: Long): DataFrame =
      df.groupBy("source")
        .agg(topk((col("score_e6") * sign).cast("double"), col("doc_id"))
          .as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("source"), lit(side).as("side"),
          (col("i") + 1).cast("long").as("rank"),
          col("t").getField("id").as("doc_id"),
          (col("t").getField("value") * sign).cast("long").as("score_e6"))
    band(scored.filter(col("score_e6") > 0L), "keep_worst", -1L)
      .unionByName(
        band(scored.filter(col("score_e6") <= 0L), "drop_best", 1L))
      .orderBy("source", "side", "rank")
  }

  /** Learned-gate ablation against the SHIPPED corpus — the impact
    * estimate a pipeline owner reads before adding the q363 screen to
    * the composed build (q353): per source, how many of the build's
    * mixed survivors (and how many of their tokens) the trained gate
    * would cut at threshold 0. Composes two families: the survivors come
    * from [[CurationQueries.corpusStages]]'s memoized mix stage, the
    * scores from [[graft.operators.QualityModels]] trained exactly as
    * q363 trains. This is an IMPACT census, not an accuracy claim — the
    * model has seen the training-split survivors it scores here (q363's
    * held-out confusion is the accuracy statement); what matters for the
    * deployment decision is which shipped tokens would disappear.
    * Scale: survivors are the small post-mix set; scoring is the
    * vocab-keyed join; the census keys are the bounded source set. */
  private def q369(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityModels
    import Rounding.intDivExact
    val (model, totals) = nbModel(s, dir)
    val (_, _, _, _, _, mixed) = CurationQueries.corpusStages(s, dir)
    QualityModels.scoreNb(
        mixed.select("doc_id", "source", "n_tokens", "text"),
        Seq("doc_id", "source", "n_tokens"), "text", model, totals)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum((col("score_e6") <= 0L).cast("long")).as("n_docs_cut"),
        sum(when(col("score_e6") <= 0L, col("n_tokens")).otherwise(0L))
          .as("n_tokens_cut"))
      .withColumn("cut_frac_e4", intDivExact(
        col("n_tokens_cut").cast("decimal(38,0)") * lit(10000L),
        col("n_tokens")))
      .orderBy("source")
  }

  /** NB-gate reliability (calibration) curve — the q305 construction
    * applied to the TRAINED gate's held-out scores, so the classifier's
    * probability CLAIM (an NB score is a log-odds: score s should mean
    * "positive with odds e^s") becomes oracle-checked data, not just a
    * ranking. Held-out scores bin into 1-nat log-odds buckets (clamped
    * to [−8, 8] — beyond that a single flipped label moves empirical
    * odds more than a whole bucket, so the tails pool); per bucket: doc
    * count, positives, the exact e4 empirical positive rate, and the
    * empirical LOG-ODDS ln(n_pos/n_neg) on the e6 lattice (ln of a
    * ratio of exact-in-double integers — the q350/q115 discipline; a
    * one-sided bucket has undefined odds → agreed NULL). A calibrated
    * gate reads emp_logodds_e6 ≈ mid_e6 (the bucket midpoint);
    * cal_gap_e6 is the signed miss. Named consumer: q367's tier
    * boundaries rank sources by MEAN NB score — this curve is what
    * certifies that those score differences carry probability meaning
    * (a flat curve says re-rank tiers by empirical rate instead).
    * Scale: one map-side-combined aggregation over the memoized
    * [[nbDocScores]] table onto ≤17 buckets; everything after is
    * bounded-frame arithmetic. */
  private def q371(s: SparkSession, dir: String): DataFrame =
    calibrationTable(
      nbDocScores(s, dir)
        .select(calBucket(col("score_e6")).as("bucket"), col("y"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos")))

  /** q371's clamped 1-nat log-odds bucket of an NB score. */
  private[graft] def calBucket(scoreE6: Column): Column =
    greatest(lit(-8L), least(lit(8L),
      floor(dbl(scoreE6) / lit(1000000.0)).cast("long")))

  /** q371's curve arithmetic over BOUNDED per-bucket counts — split out
    * (the quotaTable pattern) so the streaming drift monitor
    * (StreamingSpec) can re-derive the reliability curve each
    * micro-batch from incrementally-maintained bucket sums: counts
    * commute with batching, the derivation reads only the ≤17-row
    * state, so the incremental curve equals the batch curve at every
    * arrival prefix. */
  private[graft] def calibrationTable(buckets: DataFrame): DataFrame = {
    import Rounding.intDivExact
    buckets
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        intDivExact(
          col("n_pos").cast("decimal(38,0)") * lit(20000L) +
            col("n_docs"),
          lit(2L) * col("n_docs")).as("pos_rate_e4"),
        when(col("n_pos") === 0L || col("n_pos") === col("n_docs"),
          lit(null).cast("long"))
          .otherwise(floor(log(
            dbl(col("n_pos")) / dbl(col("n_docs") - col("n_pos")))
            * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("emp_logodds_e6"))
      .withColumn("mid_e6", col("bucket") * lit(1000000L) + lit(500000L))
      .withColumn("cal_gap_e6", col("emp_logodds_e6") - col("mid_e6"))
      .orderBy("bucket")
  }

  /** LM-gate calibration + operating-point table — q371's treatment for
    * the SECOND trained screen: the 3.4-nat cut q364/q366 apply is
    * hand-picked; this is the table that certifies it (or honestly
    * refuses to). Held-out docs only (the en training split is
    * in-distribution by construction and would flatter the curve);
    * cross-entropies bucket onto a 0.05-nat grid clamped to [3.0, 4.0]
    * nats (the corpus's observed band — tails pool into the clamp
    * buckets), and per bucket: doc count, en count, the exact e4 en
    * rate, plus the CUMULATIVE kept counts/rate from the cheap end — so
    * each row IS the gate's operating point at "keep ce ≤ this bucket's
    * upper edge" (the q365 sweep shape, for the perplexity gate). A
    * falling en_rate_e4 across buckets certifies that lower
    * cross-entropy means more reference-like; a flat one says the cut
    * is arbitrary at this corpus. Scale: one aggregation over the
    * memoized [[lmDocCe]] table onto ≤21 buckets; the cumulative window
    * runs over that bounded bucket table (PlanSpec-allowlisted). */
  private def q372(s: SparkSession, dir: String): DataFrame =
    lmOperatingTable(
      lmDocCe(s, dir)
        .filter(!isTrain(col("doc_id")))
        .select(ceBucket(col("ce_e6")).as("bucket"),
          (col("lang") === "en").cast("long").as("en"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("en").as("n_en")))

  /** q372's clamped 0.05-nat cross-entropy bucket. */
  private[graft] def ceBucket(ceE6: Column): Column =
    greatest(lit(60L), least(lit(CeTopBucket),
      floor(dbl(ceE6) / lit(50000.0)).cast("long")))

  /** The LM gate's cross-entropy cut: bucket [[LmCutBucket]]'s upper edge
    * on the 0.05-nat lattice — (67+1)·50000 = 3.4 nats. Single source
    * (ADVICE r16: the constant lived separately in q364/q366/q374/q376)
    * for q364's n_above_gate, q366's lm flag, q374's exact cut census,
    * and q376's keep_cut branch. The applied gate is INCLUSIVE
    * (`ce_e6 <= LmCutCeE6`), so the cut census must count from the raw
    * ce lattice, not from `bucket <= 67`: a doc at exactly 3.4 nats
    * lands in bucket 68 yet IS kept. */
  private[graft] val LmCutBucket = 67L
  private[graft] val LmCutCeE6: Long = (LmCutBucket + 1L) * 50000L
  /** [[ceBucket]]'s top clamp — pools ALL ce ≥ 4.0 nats into one bucket,
    * so a knee landing there means "keep everything", not "keep
    * ce ≤ 4.05" (its nominal upper edge). */
  private[graft] val CeTopBucket = 80L
  /** Keep-everything sentinel cut (ADVICE r16): emitted as knee_ce_e6
    * when the knee is the top clamp bucket — `ce_e6 <= sentinel` keeps
    * every doc, where the clamp bucket's nominal edge would silently
    * drop the pooled ce > 4.05 tail. */
  private[graft] val KeepAllCeE6: Long = Long.MaxValue

  /** q372's operating-table arithmetic over BOUNDED per-bucket counts —
    * the [[calibrationTable]]/[[quotaTable]] split, so the streaming
    * drift monitor can re-derive the table each micro-batch from
    * incrementally-maintained bucket sums. */
  private[graft] def lmOperatingTable(buckets: DataFrame): DataFrame = {
    import Rounding.intDivExact
    def rateE4(num: Column, den: Column): Column =
      intDivExact(num.cast("decimal(38,0)") * lit(20000L) + den,
        lit(2L) * den)
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.withColumn("kept_docs", sum("n_docs").over(w))
      .withColumn("kept_en", sum("n_en").over(w))
      .select(col("bucket"), col("n_docs"), col("n_en"),
        rateE4(col("n_en"), col("n_docs")).as("en_rate_e4"),
        col("kept_docs"), col("kept_en"),
        rateE4(col("kept_en"), col("kept_docs")).as("kept_en_rate_e4"))
      .orderBy("bucket")
  }

  /** NB-gate calibration VERDICT — the decision row that closes q371's
    * loop (r15 verdict item 4): the curve is data, but "is the gate
    * calibrated enough to trust mean-score tiers?" lived in prose. One
    * row, derived from the same curve: over every two-sided bucket with
    * at least `min_support` docs (below ~30 a single flipped label
    * moves empirical log-odds by more than the bucket width, so thin
    * buckets can't testify either way), the worst |cal_gap_e6| must sit
    * within one bucket width (1 nat — a score whose probability claim
    * is off by less than its own bucket still ORDERS sources
    * correctly). Verdict row: `calibrated` = 1 → policy
    * `mean_score_tiers` (q367 keeps ranking sources by mean NB score);
    * else policy `rank_by_emp_rate` (the prescribed fallback: re-rank
    * tiers by each source's empirical positive rate instead of the
    * uncalibrated score). Zero qualifying buckets also falls back — no
    * evidence is not a certification. Named consumer: q367's tier
    * construction. Scale: one aggregation over the ≤17-row curve. */
  private def q373(s: SparkSession, dir: String): DataFrame =
    nbVerdict(s, dir)

  /** q373's verdict over [[nbDocScores]] — shared by the query and the
    * policy quota; inside `SessionDirMemo.rawChain` it audits the
    * UNSTUBBED verdict chain. */
  private[graft] def nbVerdict(s: SparkSession, dir: String): DataFrame =
    nbGateVerdict(calibrationTable(
      nbDocScores(s, dir)
        .select(calBucket(col("score_e6")).as("bucket"), col("y"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos"))))

  /** q373's verdict arithmetic over the bounded curve — split out (the
    * calibrationTable pattern) so the streaming drift monitor
    * (StreamingSpec) re-derives the DECISION, not just the curve, each
    * micro-batch: a drifting feed flips the policy row the moment its
    * empirical rates leave the bound. */
  private[graft] def nbGateVerdict(curve: DataFrame): DataFrame = {
    val minSupport = 30L
    val bound = 1000000L
    curve
      .filter(col("emp_logodds_e6").isNotNull &&
        col("n_docs") >= minSupport)
      .agg(count(lit(1)).as("n_buckets_checked"),
        max(abs(col("cal_gap_e6"))).as("max_abs_gap_e6"))
      .select(lit(minSupport).as("min_support"),
        col("n_buckets_checked"), col("max_abs_gap_e6"),
        lit(bound).as("gap_bound_e6"),
        (col("n_buckets_checked") > 0L &&
          col("max_abs_gap_e6") <= bound).cast("long").as("calibrated"),
        when(col("n_buckets_checked") > 0L &&
            col("max_abs_gap_e6") <= bound, "mean_score_tiers")
          .otherwise("rank_by_emp_rate").as("policy"))
  }

  /** LM-cut VERDICT — q373's treatment for the perplexity gate: q372's
    * table exhibits every operating point; this row DECIDES whether the
    * hand-picked 3.4-nat cut stands. The knee is the operating point
    * maximizing net reference-like kept, `2·kept_en − kept_docs`
    * (en kept minus non-en kept — equal-weight Youden on the
    * cumulative table; ties to the cheaper cut). The 3.4-nat cut's kept
    * census is counted on the RAW ce lattice (`ce_e6 <= 3400000` — the
    * inclusive gate q364/q366 actually apply; `bucket <= 67` misses the
    * exact-3.4 lattice point). Policy: `keep_cut` when the knee sits
    * within one 0.05-nat row of 67, else `move_cut_to_knee` with the
    * knee's upper edge (knee_ce_e6) as the prescribed replacement — or
    * the keep-everything sentinel when the knee is the pooled top clamp
    * bucket. Named consumers: q364's n_above_gate column and q366's LM
    * flag — both apply the [[LmCutCeE6]] cut this row certifies; q376
    * executes whichever cut the policy picks. Scale: the bounded
    * ≤21-row operating table, one argmax aggregation, one 1-row cut
    * census, two 1-row frames joined by broadcast. */
  private def q374(s: SparkSession, dir: String): DataFrame = {
    val held = lmDocCe(s, dir).filter(!isTrain(col("doc_id")))
    lmCutVerdict(
      lmOperatingTable(held
        .select(ceBucket(col("ce_e6")).as("bucket"),
          (col("lang") === "en").cast("long").as("en"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("en").as("n_en"))),
      lmCutStats(held))
  }

  /** The exact kept census at the [[LmCutCeE6]] cut, from the RAW ce
    * lattice — one 1-row aggregate over the held-out per-doc frame.
    * `bucket <= 67` is off at the lattice point (a doc at exactly 3.4
    * nats lands in bucket 68 but the inclusive applied gate keeps it —
    * ADVICE r16), so the cut side of the verdict counts per-doc, never
    * per-bucket. Coalesced to 0 so the verdict stays TOTAL on an empty
    * held-out set. */
  private[graft] def lmCutStats(heldOut: DataFrame): DataFrame =
    heldOut.agg(
      coalesce(sum((col("ce_e6") <= LmCutCeE6).cast("long")), lit(0L))
        .as("cut_kept_docs"),
      coalesce(sum((col("ce_e6") <= LmCutCeE6 &&
        col("lang") === "en").cast("long")), lit(0L)).as("cut_kept_en"))

  /** q374's verdict arithmetic over the bounded operating table plus the
    * exact 1-row cut census ([[lmCutStats]]) — the [[nbGateVerdict]]
    * split, so the streaming operating-table twin can also re-derive the
    * cut decision at every arrival prefix (the cut census is two
    * commutative sums — one more bounded state). TOTAL on empty input:
    * the argmax is an aggregation (1 null row, matching the oracle's
    * min-struct form), never a LIMIT. */
  private[graft] def lmCutVerdict(table: DataFrame,
      cutStats: DataFrame): DataFrame = {
    val nets = table.select(col("bucket"),
      (lit(2L) * col("kept_en") - col("kept_docs")).as("net_kept"))
    // argmax(net, tie → smallest bucket) without a window: min-struct
    val best = nets
      .agg(min(struct((-col("net_kept")).as("neg_net"),
        col("bucket").as("b"))).as("m"))
      .select(col("m.b").as("best_bucket"),
        (-col("m.neg_net")).as("best_net_kept"))
    best.crossJoin(broadcast(cutStats))
      .select(lit(LmCutBucket).as("cut_bucket"),
        col("cut_kept_docs"), col("cut_kept_en"),
        (lit(2L) * col("cut_kept_en") - col("cut_kept_docs"))
          .as("cut_net_kept"),
        col("best_bucket"), col("best_net_kept"),
        lit(1L).as("tolerance_buckets"),
        // top-clamp knee = keep everything (sentinel), NOT the clamp
        // bucket's nominal edge — bucket 80 pools all ce ≥ 4.0
        when(col("best_bucket") >= CeTopBucket, lit(KeepAllCeE6))
          .otherwise((col("best_bucket") + lit(1L)) * lit(50000L))
          .as("knee_ce_e6"),
        when(abs(col("best_bucket") - lit(LmCutBucket)) <= 1L, "keep_cut")
          .otherwise("move_cut_to_knee").as("policy"))
  }

  /** Policy-applied quota table — q373's verdict made EXECUTABLE: the
    * q367 construction re-derived with the tier ordering the verdict
    * certifies. Both candidate orderings are computed over the bounded
    * source set (mean NB score — the calibrated path — and the
    * prescribed fallback, empirical positive rate), the verdict row
    * broadcasts in, and a CASE picks the tier column — so the decision
    * lives IN THE PLAN: when a drifted corpus flips q373 to
    * `rank_by_emp_rate`, this table re-tiers itself with no code
    * change, and the policy column says which ordering produced each
    * row. Named consumer: the mixing weights feeding q353's mix stage
    * (the policy-hardened form of q367's table). Scale: per-doc scores
    * aggregate to the bounded source set; two ntiles over that bounded
    * frame; the 1-row verdict rides a broadcast; quota arithmetic is
    * q367's exact integer rationals. */
  private def q375(s: SparkSession, dir: String): DataFrame =
    policyQuotaFull(s, dir)

  /** q375's table — shared by the query and the corpus build's mix
    * stage ([[policyQuota]]).
    *
    * Memoized per (session, dir) (r21, the
    * nbScoresMemo precedent one stage later): THREE consumers (q375,
    * q377's audit, the mix stage's [[policyQuota]]) each re-derived the
    * bit-identical bounded source-grain table — and the chain's
    * per-source token sum re-TOKENIZED the whole documents table per
    * construction, twice per bench pass-set. Source-grain rows,
    * deterministic, checkpoint-safe; `SessionDirMemo.rawChain` still
    * returns the raw unstubbed chain for the plan audits. */
  private val policyQuotaMemo = new graft.operators.SessionDirMemo[DataFrame]
  private[graft] def policyQuotaFull(s: SparkSession, dir: String)
      : DataFrame =
    policyQuotaMemo.get(s, dir)(pin(policyQuotaTable(
      nbDocScores(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_scored"),
          sum(col("score_e6").cast("decimal(38,0)")).as("sum_score_e6"),
          sum("y").as("n_pos")),
      docs(s, dir).groupBy("source")
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens")),
      nbVerdict(s, dir)
        .select(col("calibrated"), col("policy")))))

  /** The build-facing face of the certified allocation: q375's
    * policy-applied quota table projected to `(source, quota_tokens)`,
    * nulls (a degenerate corpus with nothing scored — wtot = 0) closed
    * to an explicit zero so the mix stage's cap arithmetic stays total.
    * Named consumer: [[CurationQueries.corpusStages]]'s mix stage, which
    * water-fills each source to `⌊t_total · quota_s / 10⁸⌋` — the r16
    * verdict's "wire the certified policy into the flagship build". */
  private[queries] def policyQuota(s: SparkSession, dir: String): DataFrame =
    policyQuotaFull(s, dir)
      .select(col("source"),
        coalesce(col("quota_tokens"), lit(0L)).as("quota_tokens"))

  /** q375's policy/tier/quota arithmetic over BOUNDED inputs — the
    * [[quotaTable]]/[[nbGateVerdict]] split, so the streaming twin can
    * re-derive the policy-applied quota table (verdict included) from
    * incrementally-maintained per-source and per-bucket sums at every
    * arrival prefix.
    * @param perSourceStats (source, n_docs_scored, sum_score_e6
    *        decimal(38,0), n_pos) over SCORED docs
    * @param tokens (source, n_tokens) over all docs
    * @param verdict 1 row (calibrated, policy) — [[nbGateVerdict]]'s
    *        selection columns. */
  private[graft] def policyQuotaTable(perSourceStats: DataFrame,
      tokens: DataFrame, verdict: DataFrame): DataFrame = {
    import Rounding.intDivExact
    val budget = 100000000L
    val perSource = perSourceStats
      .select(col("source"), col("n_docs_scored"),
        intDivExact(col("sum_score_e6"), col("n_docs_scored"))
          .as("mean_score_e6"),
        intDivExact(
          col("n_pos").cast("decimal(38,0)") * lit(20000L) +
            col("n_docs_scored"),
          lit(2L) * col("n_docs_scored")).as("emp_rate_e4"))
    val wMean = Window.orderBy(col("mean_score_e6").desc, col("source"))
    val wEmp = Window.orderBy(col("emp_rate_e4").desc, col("source"))
    val ranked = perSource
      .withColumn("tier_mean", ntile(3).over(wMean).cast("long"))
      .withColumn("tier_emp", ntile(3).over(wEmp).cast("long"))
    val tiered = tokens.join(ranked, Seq("source"), "left")
      .crossJoin(broadcast(verdict))
      .withColumn("tier",
        when(col("calibrated") === 1L, col("tier_mean"))
          .otherwise(col("tier_emp")))
      .withColumn("n_docs_scored", coalesce(col("n_docs_scored"), lit(0L)))
      .withColumn("mult", coalesce(lit(4L) - col("tier"), lit(0L)))
      .withColumn("wtok",
        col("n_tokens").cast("decimal(38,0)") * col("mult"))
    val tot = tiered.agg(sum("wtok").as("wtot"))
    tiered.crossJoin(broadcast(tot))
      // wtot = 0 → agreed NULL quota (the quotaTable guard)
      .withColumn("quota_tokens", when(col("wtot") > 0L,
        intDivExact(col("wtok") * lit(budget), col("wtot"))))
      .select(col("source"), col("policy"), col("n_docs_scored"),
        col("mean_score_e6"), col("emp_rate_e4"), col("tier"),
        col("mult"), col("n_tokens"), col("quota_tokens"))
      .orderBy("source")
  }

  /** Policy SENSITIVITY table — how much of the token budget rides on
    * the calibration verdict: per source, BOTH candidate tier orderings
    * (mean NB score vs empirical positive rate) carried to their full
    * quota allocations — each under its own weighted total — plus the
    * signed delta and the currently-active policy. This is the risk
    * readout an operator checks BEFORE trusting the q375→q353 wiring:
    * a large delta on a big source means the corpus's composition is
    * one calibration drift away from changing, a near-zero delta means
    * the two orderings agree and the verdict is not load-bearing.
    * Scale: the same bounded source-set arithmetic as q375 (two ntiles,
    * two 1-row totals behind broadcasts); nothing touches per-doc data
    * beyond the memoized score substrate. */
  private def q379(s: SparkSession, dir: String): DataFrame =
    policySensitivityTable(
      nbDocScores(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_scored"),
          sum(col("score_e6").cast("decimal(38,0)")).as("sum_score_e6"),
          sum("y").as("n_pos")),
      docs(s, dir).groupBy("source")
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens")),
      nbVerdict(s, dir).select(col("policy")))

  /** q379's arithmetic over BOUNDED inputs — the [[policyQuotaTable]]
    * split (same perSourceStats/tokens shapes), emitting both
    * orderings' quotas instead of CASE-selecting one. */
  private[graft] def policySensitivityTable(perSourceStats: DataFrame,
      tokens: DataFrame, verdict: DataFrame): DataFrame = {
    import Rounding.intDivExact
    val budget = 100000000L
    val perSource = perSourceStats
      .select(col("source"),
        intDivExact(col("sum_score_e6"), col("n_docs_scored"))
          .as("mean_score_e6"),
        intDivExact(
          col("n_pos").cast("decimal(38,0)") * lit(20000L) +
            col("n_docs_scored"),
          lit(2L) * col("n_docs_scored")).as("emp_rate_e4"))
    val wMean = Window.orderBy(col("mean_score_e6").desc, col("source"))
    val wEmp = Window.orderBy(col("emp_rate_e4").desc, col("source"))
    val ranked = perSource
      .withColumn("tier_mean", ntile(3).over(wMean).cast("long"))
      .withColumn("tier_emp", ntile(3).over(wEmp).cast("long"))
    val weighted = tokens.join(ranked, Seq("source"), "left")
      .withColumn("mult_mean", coalesce(lit(4L) - col("tier_mean"), lit(0L)))
      .withColumn("mult_emp", coalesce(lit(4L) - col("tier_emp"), lit(0L)))
      .withColumn("wm",
        col("n_tokens").cast("decimal(38,0)") * col("mult_mean"))
      .withColumn("we",
        col("n_tokens").cast("decimal(38,0)") * col("mult_emp"))
    val tot = weighted.agg(sum("wm").as("wmt"), sum("we").as("wet"))
    weighted.crossJoin(broadcast(tot)).crossJoin(broadcast(verdict))
      .withColumn("quota_mean_tokens", when(col("wmt") > 0L,
        intDivExact(col("wm") * lit(budget), col("wmt"))))
      .withColumn("quota_emp_tokens", when(col("wet") > 0L,
        intDivExact(col("we") * lit(budget), col("wet"))))
      .select(col("source"), col("n_tokens"),
        col("tier_mean"), col("tier_emp"),
        col("quota_mean_tokens"), col("quota_emp_tokens"),
        (col("quota_emp_tokens") - col("quota_mean_tokens"))
          .as("delta_tokens"),
        col("policy"))
      .orderBy("source")
  }

  /** Policy-applied perplexity gate — q374's verdict made EXECUTABLE:
    * the per-language kept census at the cut the verdict certifies
    * (3.4 nats under `keep_cut`, the knee's upper edge under
    * `move_cut_to_knee`). The cut is a COLUMN from the broadcast
    * verdict row, not a constant — a corpus whose operating table moves
    * re-gates itself with no code change. Held-out docs, consistent
    * with the table the cut was derived from. Intended consumers:
    * q364's n_above_gate and q366's LM flag apply the static
    * [[LmCutCeE6]] this chain certifies under `keep_cut`; when a
    * drifted corpus flips the policy, THIS census (not those static
    * views) is the kept/dropped accounting at the operative cut. Scale:
    * one broadcast + one map-side-combined aggregation onto the bounded
    * language set. */
  private def q376(s: SparkSession, dir: String): DataFrame =
    gateCensusFromBuckets(
      lmDocCe(s, dir)
        .filter(!isTrain(col("doc_id")))
        .select(col("lang"), ceBucketExclusive(col("ce_e6")).as("eb"))
        .groupBy("lang", "eb").agg(count(lit(1)).as("n_docs")),
      certifiedCut(q374(s, dir)))

  /** The cut the q374 verdict CERTIFIES, as a 1-row (policy, cut_ce_e6)
    * frame: [[LmCutCeE6]] under `keep_cut`, the knee's upper edge (or
    * the keep-everything sentinel) under `move_cut_to_knee`. Split out
    * so the streaming policy-gate twin selects the same cut per
    * micro-batch. */
  private[graft] def certifiedCut(verdict: DataFrame): DataFrame =
    verdict.select(col("policy"),
      when(col("policy") === "keep_cut", lit(LmCutCeE6))
        .otherwise(col("knee_ce_e6")).as("cut_ce_e6"))

  /** The EXCLUSIVE-edge ce bucket: `eb ≤ b ⟺ ce_e6 ≤ (b+1)·50000`
    * exactly, including the lattice point (integer ce: ce−1 < (b+1)·5e4
    * ⟺ ce ≤ (b+1)·5e4) — the grid the per-language kept census can be
    * maintained on as a BOUNDED commutative state, because every cut
    * the verdict can certify is a lattice edge. Clamps are tight for
    * the certifiable cut range [3.05, 4.00] nats: everything ≤ 3.0
    * nats (eb ≤ 59) is kept under every candidate cut, everything
    * > 4.05 (eb = 81) under none but the sentinel. */
  private[graft] def ceBucketExclusive(ceE6: Column): Column =
    greatest(lit(59L), least(lit(81L),
      floor((dbl(ceE6) - lit(1.0)) / lit(50000.0)).cast("long")))

  /** q376's census arithmetic over the BOUNDED (lang, eb) grid — the
    * verdict-side twin of [[lmOperatingTable]]'s split: the batch query
    * and the streaming monitor both re-derive the per-language kept
    * census at the certified cut from ≤ |langs|·23 bucket counts.
    * `eb·50000 < cut ⟺ ce ≤ cut` on the exclusive grid; the sentinel
    * cut keeps every bucket. */
  private[graft] def gateCensusFromBuckets(buckets: DataFrame,
      cut: DataFrame): DataFrame = {
    import Rounding.intDivExact
    buckets
      .crossJoin(broadcast(cut))
      .groupBy("lang", "policy", "cut_ce_e6")
      .agg(sum("n_docs").as("n_docs"),
        sum(when(col("cut_ce_e6") === KeepAllCeE6 ||
          col("eb") * lit(50000L) < col("cut_ce_e6"), col("n_docs"))
          .otherwise(0L)).as("n_kept"))
      .withColumn("kept_rate_e4", intDivExact(
        col("n_kept").cast("decimal(38,0)") * lit(20000L) +
          col("n_docs"),
        lit(2L) * col("n_docs")))
      .orderBy("lang")
  }

  val defs: Map[String, Q] = Map(
    "q371_nb_calibration" -> (q371 _),
    "q372_lm_calibration" -> (q372 _),
    "q373_nb_gate_verdict" -> (q373 _),
    "q374_lm_cut_verdict" -> (q374 _),
    "q375_policy_quota" -> (q375 _),
    "q376_policy_gate" -> (q376 _),
    "q379_policy_sensitivity" -> (q379 _),
    "q363_nb_classifier" -> (q363 _),
    "q364_lm_cross_entropy" -> (q364 _),
    "q365_nb_threshold_sweep" -> (q365 _),
    "q366_gate_agreement" -> (q366 _),
    "q367_quality_budget" -> (q367 _),
    "q368_review_sample" -> (q368 _),
    "q369_gate_ablation" -> (q369 _))

  /** Shared oracle CTE chain for [[nbDocScores]] — ends at
    * `pd(doc_id, y, score_e6)`; q363/q365/q366 append their own census. */
  private val nbPdCte: String =
      s"""nbd AS (
        |  SELECT doc_id, text, source, CAST(lang = 'en' AS BIGINT) AS y,
        |    CAST(${isTrainSql("doc_id")} AS BIGINT) AS is_train
        |  FROM documents),
        |nbtoks AS (
        |  SELECT doc_id, y, source, is_train,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        |  FROM nbd),
        |nbmodel AS (
        |  SELECT tok, CAST(sum(y) AS BIGINT) AS c_pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS c_neg
        |  FROM nbtoks WHERE is_train = 1 GROUP BY tok),
        |nbtot AS (
        |  SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
        |    CAST(sum(c_neg) AS BIGINT) AS n_neg,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM nbmodel),
        |nbpri AS (
        |  SELECT CAST(sum(y) AS BIGINT) AS d_pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS d_neg
        |  FROM nbd WHERE is_train = 1),
        |nbscored AS (
        |  SELECT t.doc_id, t.y, t.source,
        |    CAST(floor(ln(
        |        (CAST(coalesce(m.c_pos, 0) + 1 AS DOUBLE) *
        |          CAST(n_neg + v AS DOUBLE)) /
        |        (CAST(coalesce(m.c_neg, 0) + 1 AS DOUBLE) *
        |          CAST(n_pos + v AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS llr_e6,
        |    CAST(floor(ln(CAST(d_pos AS DOUBLE) / CAST(d_neg AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS prior_e6
        |  FROM nbtoks t LEFT JOIN nbmodel m USING (tok), nbtot, nbpri
        |  WHERE t.is_train = 0),
        |pd AS (
        |  SELECT doc_id, y, source,
        |    CAST(sum(llr_e6) + min(prior_e6) AS BIGINT) AS score_e6
        |  FROM nbscored GROUP BY doc_id, y, source)""".stripMargin

  /** Shared oracle CTE chain for [[lmDocCe]] — ends at
    * `lpd(doc_id, lang, ce_e6)`; q364/q366 append their own census. */
  private val lmPdCte: String = {
    val ce = intDivSql("sum(nll_e6)", "count(*)")
    s"""ltoks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |      AS tok,
        |    unnest(generate_series(1,
        |      len(regexp_split_to_array(lower(trim(text)), '\\s+'))))
        |      AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, tok AS w1,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM ltoks),
        |bg2 AS (SELECT * FROM bg WHERE w2 IS NOT NULL),
        |refbg AS (
        |  SELECT * FROM bg2 WHERE lang = 'en' AND ${isTrainSql("doc_id")}),
        |big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM refbg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
        |        FROM big GROUP BY 1),
        |vocab AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM ltoks WHERE lang = 'en' AND ${isTrainSql("doc_id")}),
        |terms AS (
        |  SELECT b.doc_id, b.lang,
        |    CAST(floor(ln(
        |        CAST(coalesce(c.c1, 0) + v AS DOUBLE) /
        |        CAST(coalesce(g.c12, 0) + 1 AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS nll_e6
        |  FROM bg2 b
        |  LEFT JOIN big g ON b.w1 = g.w1 AND b.w2 = g.w2
        |  LEFT JOIN ctx c ON b.w1 = c.w1, vocab),
        |lpd AS (
        |  SELECT doc_id, lang, $ce AS ce_e6
        |  FROM terms GROUP BY doc_id, lang)""".stripMargin
  }

  /** Shared oracle CTE chain for the POLICY-APPLIED quota table —
    * [[nbPdCte]] plus the q373 verdict arithmetic, both tier orderings,
    * and the exact quota rationals, ending at `pquota(source, policy,
    * n_docs_scored, mean_score_e6, emp_rate_e4, tier, mult, n_tokens,
    * quota_tokens)`. Consumed by the q375 oracle and by
    * [[CurationQueries.corpusCtes]]'s mix stage (the build-facing
    * quota — r16 verdict item 1). */
  private[queries] lazy val policyQuotaCtes: String = {
    val mean = Rounding.intDivExactSql(
      "CAST(ssum AS HUGEINT)", "n_docs_scored")
    val emp = Rounding.intDivExactSql(
      "CAST(npos AS HUGEINT) * 20000 + n_docs_scored",
      "2 * n_docs_scored")
    val quota = Rounding.intDivExactSql(
      "CAST(wtok AS HUGEINT) * 100000000", "NULLIF(wtot, 0)")
    s"""$nbPdCte,
      |cal AS (
      |  SELECT greatest(-8, least(8,
      |      CAST(floor(CAST(score_e6 AS DOUBLE) / 1000000.0)
      |        AS BIGINT))) AS bucket,
      |    y
      |  FROM pd),
      |cb AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(y) AS BIGINT) AS n_pos
      |  FROM cal GROUP BY bucket),
      |curve AS (
      |  SELECT n_docs,
      |    CASE WHEN n_pos = 0 OR n_pos = n_docs THEN NULL
      |         ELSE CAST(floor(ln(CAST(n_pos AS DOUBLE) /
      |           CAST(n_docs - n_pos AS DOUBLE)) * 1000000.0 + 0.5)
      |           AS BIGINT)
      |    END - (bucket * 1000000 + 500000) AS cal_gap_e6
      |  FROM cb),
      |ver AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_buckets_checked,
      |    CAST(max(abs(cal_gap_e6)) AS BIGINT) AS max_abs_gap_e6
      |  FROM curve
      |  WHERE cal_gap_e6 IS NOT NULL AND n_docs >= 30),
      |flag AS (
      |  SELECT CAST(n_buckets_checked > 0 AND
      |      coalesce(max_abs_gap_e6 <= 1000000, FALSE) AS BIGINT)
      |      AS calibrated,
      |    CASE WHEN n_buckets_checked > 0 AND
      |        coalesce(max_abs_gap_e6 <= 1000000, FALSE)
      |      THEN 'mean_score_tiers' ELSE 'rank_by_emp_rate'
      |    END AS policy
      |  FROM ver),
      |ps AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_scored,
      |    sum(score_e6) AS ssum, CAST(sum(y) AS BIGINT) AS npos
      |  FROM pd GROUP BY source),
      |ms AS (
      |  SELECT source, n_docs_scored, $mean AS mean_score_e6,
      |    $emp AS emp_rate_e4
      |  FROM ps),
      |rk AS (
      |  SELECT *,
      |    CAST(ntile(3) OVER (ORDER BY mean_score_e6 DESC, source)
      |      AS BIGINT) AS tier_mean,
      |    CAST(ntile(3) OVER (ORDER BY emp_rate_e4 DESC, source)
      |      AS BIGINT) AS tier_emp
      |  FROM ms),
      |tk AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY source),
      |tiered AS (
      |  SELECT tk.source, policy,
      |    CAST(coalesce(n_docs_scored, 0) AS BIGINT) AS n_docs_scored,
      |    mean_score_e6, emp_rate_e4,
      |    CAST(CASE WHEN calibrated = 1 THEN tier_mean
      |         ELSE tier_emp END AS BIGINT) AS tier,
      |    n_tokens
      |  FROM tk LEFT JOIN rk ON tk.source = rk.source, flag),
      |wt AS (
      |  SELECT *, CAST(coalesce(4 - tier, 0) AS BIGINT) AS mult,
      |    CAST(n_tokens AS HUGEINT) * coalesce(4 - tier, 0) AS wtok
      |  FROM tiered),
      |wtot_t AS (SELECT sum(wtok) AS wtot FROM wt),
      |pquota AS (
      |  SELECT source, policy, n_docs_scored, mean_score_e6,
      |    emp_rate_e4, tier, mult, n_tokens, $quota AS quota_tokens
      |  FROM wt, wtot_t)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same clamped 1-nat buckets, same exact e4 rate, same e6 ln lattice
    "q371_nb_calibration" -> {
      val rate = Rounding.intDivExactSql(
        "CAST(n_pos AS HUGEINT) * 20000 + n_docs", "2 * n_docs")
      s"""WITH $nbPdCte,
        |cal AS (
        |  SELECT greatest(-8, least(8,
        |      CAST(floor(CAST(score_e6 AS DOUBLE) / 1000000.0)
        |        AS BIGINT))) AS bucket,
        |    y
        |  FROM pd),
        |cb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM cal GROUP BY bucket)
        |SELECT bucket, n_docs, n_pos,
        |  $rate AS pos_rate_e4,
        |  CASE WHEN n_pos = 0 OR n_pos = n_docs THEN NULL
        |       ELSE CAST(floor(ln(CAST(n_pos AS DOUBLE) /
        |         CAST(n_docs - n_pos AS DOUBLE)) * 1000000.0 + 0.5)
        |         AS BIGINT)
        |  END AS emp_logodds_e6,
        |  CAST(bucket * 1000000 + 500000 AS BIGINT) AS mid_e6,
        |  CAST(CASE WHEN n_pos = 0 OR n_pos = n_docs THEN NULL
        |       ELSE CAST(floor(ln(CAST(n_pos AS DOUBLE) /
        |         CAST(n_docs - n_pos AS DOUBLE)) * 1000000.0 + 0.5)
        |         AS BIGINT)
        |  END - (bucket * 1000000 + 500000) AS BIGINT) AS cal_gap_e6
        |FROM cb ORDER BY bucket""".stripMargin
    },
    // same held-out filter, same clamped 0.05-nat buckets, same exact
    // e4 rates, same low-end cumulative window over the bounded buckets
    "q372_lm_calibration" -> {
      val rate = Rounding.intDivExactSql(
        "CAST(n_en AS HUGEINT) * 20000 + n_docs", "2 * n_docs")
      val krate = Rounding.intDivExactSql(
        "CAST(kept_en AS HUGEINT) * 20000 + kept_docs", "2 * kept_docs")
      s"""WITH $lmPdCte,
        |lcal AS (
        |  SELECT greatest(60, least(80,
        |      CAST(floor(CAST(ce_e6 AS DOUBLE) / 50000.0) AS BIGINT)))
        |    AS bucket,
        |    CAST(lang = 'en' AS BIGINT) AS en
        |  FROM lpd WHERE NOT (${isTrainSql("doc_id")})),
        |lcb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(en) AS BIGINT) AS n_en
        |  FROM lcal GROUP BY bucket),
        |lcc AS (
        |  SELECT bucket, n_docs, n_en,
        |    CAST(sum(n_docs) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS kept_docs,
        |    CAST(sum(n_en) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS kept_en
        |  FROM lcb)
        |SELECT bucket, n_docs, n_en, $rate AS en_rate_e4,
        |  kept_docs, kept_en, $krate AS kept_en_rate_e4
        |FROM lcc ORDER BY bucket""".stripMargin
    },
    // same curve (the q371 CTEs verbatim), same ≥30-doc two-sided
    // support filter, same 1-nat gap bound, same fallback policy
    "q373_nb_gate_verdict" ->
      s"""WITH $nbPdCte,
        |cal AS (
        |  SELECT greatest(-8, least(8,
        |      CAST(floor(CAST(score_e6 AS DOUBLE) / 1000000.0)
        |        AS BIGINT))) AS bucket,
        |    y
        |  FROM pd),
        |cb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM cal GROUP BY bucket),
        |curve AS (
        |  SELECT n_docs,
        |    CASE WHEN n_pos = 0 OR n_pos = n_docs THEN NULL
        |         ELSE CAST(floor(ln(CAST(n_pos AS DOUBLE) /
        |           CAST(n_docs - n_pos AS DOUBLE)) * 1000000.0 + 0.5)
        |           AS BIGINT)
        |    END - (bucket * 1000000 + 500000) AS cal_gap_e6
        |  FROM cb),
        |ver AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_buckets_checked,
        |    CAST(max(abs(cal_gap_e6)) AS BIGINT) AS max_abs_gap_e6
        |  FROM curve
        |  WHERE cal_gap_e6 IS NOT NULL AND n_docs >= 30)
        |SELECT CAST(30 AS BIGINT) AS min_support, n_buckets_checked,
        |  max_abs_gap_e6, CAST(1000000 AS BIGINT) AS gap_bound_e6,
        |  CAST(n_buckets_checked > 0 AND
        |    coalesce(max_abs_gap_e6 <= 1000000, FALSE) AS BIGINT)
        |    AS calibrated,
        |  CASE WHEN n_buckets_checked > 0 AND
        |      coalesce(max_abs_gap_e6 <= 1000000, FALSE)
        |    THEN 'mean_score_tiers' ELSE 'rank_by_emp_rate'
        |  END AS policy
        |FROM ver""".stripMargin,
    // same held-out buckets (the q372 CTEs verbatim), same net-kept
    // min-struct argmax (an AGGREGATE, total on empty input — never a
    // LIMIT), same exact per-doc cut census, same top-clamp sentinel
    "q374_lm_cut_verdict" ->
      s"""WITH $lmPdCte,
        |lcal AS (
        |  SELECT greatest(60, least(80,
        |      CAST(floor(CAST(ce_e6 AS DOUBLE) / 50000.0) AS BIGINT)))
        |    AS bucket,
        |    CAST(lang = 'en' AS BIGINT) AS en
        |  FROM lpd WHERE NOT (${isTrainSql("doc_id")})),
        |lcb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(en) AS BIGINT) AS n_en
        |  FROM lcal GROUP BY bucket),
        |lcc AS (
        |  SELECT bucket,
        |    CAST(sum(n_docs) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS kept_docs,
        |    CAST(sum(n_en) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS kept_en
        |  FROM lcb),
        |best AS (
        |  SELECT min({'neg_net': -(2 * kept_en - kept_docs),
        |              'b': bucket}) AS m
        |  FROM lcc),
        |cut AS (
        |  SELECT
        |    CAST(coalesce(sum(CAST(ce_e6 <= $LmCutCeE6 AS BIGINT)), 0)
        |      AS BIGINT) AS cut_kept_docs,
        |    CAST(coalesce(sum(CAST((ce_e6 <= $LmCutCeE6 AND lang = 'en')
        |      AS BIGINT)), 0) AS BIGINT) AS cut_kept_en
        |  FROM lpd WHERE NOT (${isTrainSql("doc_id")}))
        |SELECT CAST($LmCutBucket AS BIGINT) AS cut_bucket, cut_kept_docs,
        |  cut_kept_en,
        |  CAST(2 * cut_kept_en - cut_kept_docs AS BIGINT)
        |    AS cut_net_kept,
        |  CAST(m.b AS BIGINT) AS best_bucket,
        |  CAST(-m.neg_net AS BIGINT) AS best_net_kept,
        |  CAST(1 AS BIGINT) AS tolerance_buckets,
        |  CAST(CASE WHEN m.b >= $CeTopBucket THEN $KeepAllCeE6
        |       ELSE (m.b + 1) * 50000 END AS BIGINT) AS knee_ce_e6,
        |  CASE WHEN abs(m.b - $LmCutBucket) <= 1 THEN 'keep_cut'
        |       ELSE 'move_cut_to_knee' END AS policy
        |FROM best, cut""".stripMargin,
    // the q373 verdict chain + q367's quota arithmetic, with the tier
    // ordering CASE-selected by the verdict flag — both ntile orderings
    // computed, the certified one applied
    "q375_policy_quota" ->
      s"""WITH $policyQuotaCtes
        |SELECT source, policy, n_docs_scored, mean_score_e6,
        |  emp_rate_e4, tier, mult, n_tokens, quota_tokens
        |FROM pquota ORDER BY source""".stripMargin,
    // the same chain's rk/tk/flag CTEs, both orderings carried to their
    // full allocations under their own weighted totals
    "q379_policy_sensitivity" -> {
      val qm = Rounding.intDivExactSql(
        "CAST(wm AS HUGEINT) * 100000000", "NULLIF(wmt, 0)")
      val qe = Rounding.intDivExactSql(
        "CAST(we AS HUGEINT) * 100000000", "NULLIF(wet, 0)")
      s"""WITH $policyQuotaCtes,
        |w2 AS (
        |  SELECT tk.source, n_tokens, tier_mean, tier_emp,
        |    CAST(n_tokens AS HUGEINT) * coalesce(4 - tier_mean, 0) AS wm,
        |    CAST(n_tokens AS HUGEINT) * coalesce(4 - tier_emp, 0) AS we
        |  FROM tk LEFT JOIN rk ON tk.source = rk.source),
        |wt2 AS (SELECT sum(wm) AS wmt, sum(we) AS wet FROM w2)
        |SELECT source, n_tokens, tier_mean, tier_emp,
        |  $qm AS quota_mean_tokens,
        |  $qe AS quota_emp_tokens,
        |  CAST($qe - $qm AS BIGINT) AS delta_tokens,
        |  policy
        |FROM w2, wt2, flag ORDER BY source""".stripMargin
    },
    // the q374 verdict chain + the certified-cut census, with the cut a
    // CASE-selected value from the verdict row
    "q376_policy_gate" -> {
      val rate = Rounding.intDivExactSql(
        "CAST(n_kept AS HUGEINT) * 20000 + n_docs", "2 * n_docs")
      s"""WITH $lmPdCte,
        |lcal AS (
        |  SELECT greatest(60, least(80,
        |      CAST(floor(CAST(ce_e6 AS DOUBLE) / 50000.0) AS BIGINT)))
        |    AS bucket,
        |    CAST(lang = 'en' AS BIGINT) AS en
        |  FROM lpd WHERE NOT (${isTrainSql("doc_id")})),
        |lcb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(en) AS BIGINT) AS n_en
        |  FROM lcal GROUP BY bucket),
        |lcc AS (
        |  SELECT bucket,
        |    CAST(sum(n_docs) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS kept_docs,
        |    CAST(sum(n_en) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS kept_en
        |  FROM lcb),
        |best AS (
        |  SELECT min({'neg_net': -(2 * kept_en - kept_docs),
        |              'b': bucket}) AS m
        |  FROM lcc),
        |pol AS (
        |  SELECT CASE WHEN abs(m.b - $LmCutBucket) <= 1 THEN 'keep_cut'
        |         ELSE 'move_cut_to_knee' END AS policy,
        |    CAST(CASE WHEN abs(m.b - $LmCutBucket) <= 1 THEN $LmCutCeE6
        |         WHEN m.b >= $CeTopBucket THEN $KeepAllCeE6
        |         ELSE (m.b + 1) * 50000 END AS BIGINT)
        |      AS cut_ce_e6
        |  FROM best),
        |cens AS (
        |  SELECT lang, policy, cut_ce_e6,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CAST(ce_e6 <= cut_ce_e6 AS BIGINT)) AS BIGINT)
        |      AS n_kept
        |  FROM lpd, pol WHERE NOT (${isTrainSql("doc_id")})
        |  GROUP BY lang, policy, cut_ce_e6)
        |SELECT lang, policy, cut_ce_e6, n_docs, n_kept,
        |  $rate AS kept_rate_e4
        |FROM cens ORDER BY lang""".stripMargin
    },
    // same split, same Laplace llr lattice, same left-join coalesce
    "q363_nb_classifier" ->
      s"""WITH $nbPdCte
        |SELECT y AS actual_en,
        |  CAST(score_e6 > 0 AS BIGINT) AS predicted_en,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  ${Rounding.sumCentsSql("score_e6")} AS sum_score_e6,
        |  CAST(min(score_e6) AS BIGINT) AS min_score_e6,
        |  CAST(max(score_e6) AS BIGINT) AS max_score_e6
        |FROM pd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same per-doc lead bigrams, same add-one lattice, same trunc mean
    "q364_lm_cross_entropy" -> {
      val mean = Rounding.intDivExactSql("sum(ce_e6)", "count(*)")
      s"""WITH $lmPdCte
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  $mean AS mean_ce_e6,
        |  CAST(min(ce_e6) AS BIGINT) AS min_ce_e6,
        |  CAST(max(ce_e6) AS BIGINT) AS max_ce_e6,
        |  CAST(sum(CAST(ce_e6 > $LmCutCeE6 AS BIGINT)) AS BIGINT)
        |    AS n_above_gate
        |FROM lpd GROUP BY lang ORDER BY lang""".stripMargin
    },
    // same e1 score buckets, same desc cumulative window, same rationals
    "q365_nb_threshold_sweep" -> {
      val prec = Rounding.intDivExactSql(
        "CAST(tp AS HUGEINT) * 2000000 + (tp + fp)", "2 * (tp + fp)")
      val rec = Rounding.intDivExactSql(
        "CAST(tp AS HUGEINT) * 2000000 + p_total", "2 * p_total")
      s"""WITH $nbPdCte,
        |sc AS (
        |  SELECT CAST(floor(CAST(score_e6 AS DOUBLE) / 100000.0)
        |      AS BIGINT) AS bucket,
        |    y AS pos
        |  FROM pd),
        |buckets AS (
        |  SELECT bucket, CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(1 - pos) AS BIGINT) AS n_neg
        |  FROM sc GROUP BY bucket),
        |ptot AS (SELECT CAST(sum(pos) AS BIGINT) AS p_total FROM sc),
        |cum AS (
        |  SELECT bucket, n_pos, n_neg,
        |    CAST(sum(n_pos) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS tp,
        |    CAST(sum(n_neg) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS fp
        |  FROM buckets)
        |SELECT bucket, n_pos, n_neg, tp, fp,
        |  $prec AS precision_e6,
        |  CASE WHEN p_total = 0 THEN NULL ELSE $rec END AS recall_e6
        |FROM cum, ptot ORDER BY bucket DESC""".stripMargin
    },
    // same per-doc flags, same q324 kappa rational, same NULL guard
    "q366_gate_agreement" -> {
      val po = Rounding.intDivExactSql(
        "CAST(n_both_keep + n_both_drop AS HUGEINT) * 2000000 + n",
        "2 * n")
      val kap = Rounding.intDivExactSql(
        "(CAST(n_both_keep + n_both_drop AS HUGEINT) * n" +
          " - CAST(n_both_keep + n_nb_only AS HUGEINT) *" +
          " (n_both_keep + n_lm_only)" +
          " - CAST(n - n_both_keep - n_nb_only AS HUGEINT) *" +
          " (n - n_both_keep - n_lm_only)) * 1000000",
        "CAST(n AS HUGEINT) * n" +
          " - CAST(n_both_keep + n_nb_only AS HUGEINT) *" +
          " (n_both_keep + n_lm_only)" +
          " - CAST(n - n_both_keep - n_nb_only AS HUGEINT) *" +
          " (n - n_both_keep - n_lm_only)")
      s"""WITH $nbPdCte,
        |$lmPdCte,
        |flags AS (
        |  SELECT CAST(pd.score_e6 > 0 AS BIGINT) AS nb,
        |    CAST(lpd.ce_e6 <= $LmCutCeE6 AS BIGINT) AS lm
        |  FROM pd JOIN lpd ON pd.doc_id = lpd.doc_id),
        |cells AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(nb = 1 AND lm = 1 AS BIGINT)) AS BIGINT)
        |      AS n_both_keep,
        |    CAST(sum(CAST(nb = 1 AND lm = 0 AS BIGINT)) AS BIGINT)
        |      AS n_nb_only,
        |    CAST(sum(CAST(nb = 0 AND lm = 1 AS BIGINT)) AS BIGINT)
        |      AS n_lm_only,
        |    CAST(sum(CAST(nb = 0 AND lm = 0 AS BIGINT)) AS BIGINT)
        |      AS n_both_drop
        |  FROM flags)
        |SELECT n, n_both_keep, n_nb_only, n_lm_only, n_both_drop,
        |  $po AS p_o_e6,
        |  CASE WHEN CAST(n AS HUGEINT) * n
        |      - CAST(n_both_keep + n_nb_only AS HUGEINT) *
        |        (n_both_keep + n_lm_only)
        |      - CAST(n - n_both_keep - n_nb_only AS HUGEINT) *
        |        (n - n_both_keep - n_lm_only) = 0
        |    THEN NULL ELSE $kap END AS kappa_e6
        |FROM cells""".stripMargin
    },
    // same mean/tier/quota integer rationals, same ntile tie-break
    "q367_quality_budget" -> {
      val mean = Rounding.intDivExactSql(
        "CAST(ssum AS HUGEINT)", "n_docs_scored")
      val quota = Rounding.intDivExactSql(
        "CAST(wtok AS HUGEINT) * 100000000", "NULLIF(wtot, 0)")
      val epochs = Rounding.intDivExactSql(
        "CAST(quota_tokens AS HUGEINT) * 10000", "n_tokens")
      s"""WITH $nbPdCte,
        |ps AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_scored,
        |    sum(score_e6) AS ssum
        |  FROM pd GROUP BY source),
        |ms AS (
        |  SELECT source, n_docs_scored, $mean AS mean_score_e6 FROM ps),
        |tk AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |st AS (
        |  SELECT source, n_docs_scored, mean_score_e6,
        |    CAST(ntile(3) OVER (ORDER BY mean_score_e6 DESC, source)
        |      AS BIGINT) AS tier
        |  FROM ms),
        |tiered AS (
        |  SELECT tk.source,
        |    CAST(coalesce(n_docs_scored, 0) AS BIGINT) AS n_docs_scored,
        |    mean_score_e6, n_tokens, tier
        |  FROM tk LEFT JOIN st ON tk.source = st.source),
        |wt AS (
        |  SELECT *, CAST(coalesce(4 - tier, 0) AS BIGINT) AS mult,
        |    CAST(n_tokens AS HUGEINT) * coalesce(4 - tier, 0) AS wtok
        |  FROM tiered),
        |wtot_t AS (SELECT sum(wtok) AS wtot FROM wt),
        |q AS (
        |  SELECT source, n_docs_scored, mean_score_e6, tier,
        |    CAST(mult AS BIGINT) AS mult, n_tokens,
        |    $quota AS quota_tokens
        |  FROM wt, wtot_t)
        |SELECT source, n_docs_scored, mean_score_e6, tier, mult,
        |  n_tokens, quota_tokens, $epochs AS epochs_e4
        |FROM q ORDER BY source""".stripMargin
    },
    // same (score, doc_id) tie-break as the aggregate's ordering contract
    "q368_review_sample" ->
      s"""WITH $nbPdCte,
        |keep_side AS (
        |  SELECT source, 'keep_worst' AS side,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score_e6 ASC, doc_id ASC) AS BIGINT) AS rank,
        |    doc_id, score_e6
        |  FROM pd WHERE score_e6 > 0),
        |drop_side AS (
        |  SELECT source, 'drop_best' AS side,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS rank,
        |    doc_id, score_e6
        |  FROM pd WHERE score_e6 <= 0)
        |SELECT source, side, rank, doc_id, score_e6
        |FROM (SELECT * FROM keep_side UNION ALL SELECT * FROM drop_side)
        |WHERE rank <= 3
        |ORDER BY source, side, rank""".stripMargin,
    // the nb model chain scoring the corpus build's mixed survivors —
    // corpusCtes itself now CARRIES the nb chain (its mix stage reads
    // pquota), so this oracle reuses corpusCtes' nbmodel/nbtot/nbpri
    // instead of re-declaring nbPdCte (nb-prefixed names dodge the
    // corpus chain's toks/tot)
    "q369_gate_ablation" -> {
      val frac = Rounding.intDivExactSql(
        "CAST(n_tokens_cut AS HUGEINT) * 10000", "n_tokens")
      s"""WITH RECURSIVE
        |${CurationQueries.corpusCtes},
        |sv AS (
        |  SELECT m.doc_id, m.source, m.n_tokens, dd.text
        |  FROM mixed m JOIN documents dd USING (doc_id)),
        |svtoks AS (
        |  SELECT doc_id, source, n_tokens,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |      AS tok
        |  FROM sv),
        |svsc AS (
        |  SELECT t.doc_id, t.source, t.n_tokens,
        |    CAST(floor(ln(
        |        (CAST(coalesce(m.c_pos, 0) + 1 AS DOUBLE) *
        |          CAST(n_neg + v AS DOUBLE)) /
        |        (CAST(coalesce(m.c_neg, 0) + 1 AS DOUBLE) *
        |          CAST(n_pos + v AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS llr_e6,
        |    CAST(floor(ln(CAST(d_pos AS DOUBLE) / CAST(d_neg AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS prior_e6
        |  FROM svtoks t LEFT JOIN nbmodel m USING (tok), nbtot, nbpri),
        |svpd AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(llr_e6) + min(prior_e6) AS BIGINT) AS score_e6
        |  FROM svsc GROUP BY doc_id, source, n_tokens),
        |census AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(score_e6 <= 0 AS BIGINT)) AS BIGINT)
        |      AS n_docs_cut,
        |    CAST(sum(CASE WHEN score_e6 <= 0 THEN n_tokens ELSE 0 END)
        |      AS BIGINT) AS n_tokens_cut
        |  FROM svpd GROUP BY source)
        |SELECT source, n_docs, n_tokens, n_docs_cut, n_tokens_cut,
        |  $frac AS cut_frac_e4
        |FROM census ORDER BY source""".stripMargin
    })
}
