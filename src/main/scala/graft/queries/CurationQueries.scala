package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.{HeavyHitters, Rounding, TextAnalysis}
import graft.operators.CheckpointBlocks.checkpoint

/** Training-data curation operators — the screens and statistics a corpus
  * pipeline runs between raw crawl and tokenizer: n-gram language-model
  * counts (q79), PII-style masking (q80), distribution census by exact
  * quantile boundaries (q81), exact-arithmetic correlation (q82), two-pass
  * exact heavy hitters over an unbounded vocabulary (q83), and benchmark
  * decontamination by shingle containment (q84). Every query is a
  * shuffle-lean shape with a DuckDB oracle; scale notes live per query. */
object CurationQueries extends QueryPack {

  import Rounding.centsSql

  private val tokSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** Bigram counts (the order-2 LM table): tokenize, pair each token with
    * its successor via one window pass partitioned by doc (high
    * cardinality — no global sort), count, keep the top 100 under a fully
    * deterministic (n DESC, w1, w2) order. At 100 TB the explode + window
    * is embarrassingly parallel and the groupBy is the only exchange;
    * vocabulary-squared never materializes, only observed pairs. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokensCol(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    toks.withColumn("w2", lead("tok", 1).over(w))
      .filter(col("w2").isNotNull)
      .groupBy(col("tok").as("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Digit-run masking over the events props payload — the PII-redaction
    * shape (same regexp_replace plan applies to emails/phones/ids; the
    * digit pattern is what this synthetic corpus actually contains). Pure
    * projection: no shuffle, no state, trivially 100 TB-safe. `n_digits`
    * counts masked characters via the length delta. */
  private def q80(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("masked"),
        (length(col("props")) -
          length(regexp_replace(col("props"), "[0-9]", "")))
          .cast("long").as("n_digits"))
      .orderBy("event_id")

  /** Quartile census: per-group exact quantile boundaries (integer-cents
    * domain, where Spark `percentile` ≡ DuckDB `quantile_cont` — proven by
    * q75), broadcast back, classify, count. The scale point: quantiles of
    * a 100 TB table per group are ONE aggregation, and the classification
    * pass is a map-side broadcast join — no global sort, no ntile window
    * over a single partition. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val c = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), expr(c).as("vc"))
    val bounds = ev.groupBy("event_type").agg(
      expr(s"percentile(vc, 0.25)").as("q1"),
      expr(s"percentile(vc, 0.5)").as("q2"),
      expr(s"percentile(vc, 0.75)").as("q3"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("quartile",
        when(col("vc") <= col("q1"), 1L)
          .when(col("vc") <= col("q2"), 2L)
          .when(col("vc") <= col("q3"), 3L)
          .otherwise(4L))
      .groupBy("event_type", "quartile")
      .agg(count(lit(1)).as("n"), min("vc").as("min_c"), max("vc").as("max_c"))
      .orderBy("event_type", "quartile")
  }

  /** Pearson correlation per group from EXACT integer sums — the
    * de-floating technique applied to second-order statistics: x (cents)
    * and y (payload length) are integers, all five power sums accumulate
    * exactly through decimal(38,0), and both engines then run the
    * identical IEEE double formula on identical integers. Output is
    * e6-scaled BIGINT, so no DOUBLE column ever reaches the compare. One
    * aggregation; no second pass (contrast the naive two-pass
    * mean-then-deviations formulation). */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull && col("props").isNotNull)
      .select(col("event_type"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("x"),
        length(col("props")).cast("long").as("y"))
    ev.groupBy("event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).cast("double").as("syy"))
      .select(col("event_type"), col("n").cast("long").as("n_rows"),
        expr("""CAST(floor(
          ((n * sxy - sx * sy) /
           (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) * 1000000.0
          + 0.5) AS BIGINT)""").as("corr_e6"))
      .orderBy("event_type")
  }

  /** Two-pass EXACT heavy hitters over an unbounded vocabulary: pass 1 is
    * the [[HeavyHitters]] Misra-Gries aggregate (bounded state: ≤128
    * counters per task, guaranteed superset of every word above the n/64
    * threshold since 64 < 128+1), pass 2 refines candidates to exact
    * counts with a broadcast semi-join + count. The full groupBy of the
    * long tail — the thing that melts at 100 TB vocabulary scale — never
    * runs; only candidate rows reach an exchange. Oracle: the plain
    * GROUP BY ... HAVING formulation. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
    // three scans of the token projection (total, sketch, refine) — at
    // real scale persist toks once; re-scanning keeps this def stateless
    val total = toks.count()
    val mg = udaf(new HeavyHitters(128), ExpressionEncoder[String]())
    val cands = toks.agg(mg(col("tok")).as("cands"))
      .select(explode(col("cands")).as("tok"))
    toks.join(broadcast(cands), "tok")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") > lit(total) / 64.0)
      .orderBy("tok")
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least one word-4-gram with the held-out set (doc_id % 97 == 0 stands
    * in for the benchmark). Candidate generation is a keyed join on the
    * gram — the same never-all-pairs discipline as the dedup family — and
    * the benchmark side is explicitly broadcast (held-out sets are small
    * by construction). At real scale the gram key would be
    * [[TextAnalysis.hashedNgramsFromTokens]] longs; the oracle needs the
    * string form. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextAnalysis.ngramsFromTokens(col("toks"), 4)).as("gram"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select("gram").distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // grams are distinct per doc already
      .orderBy("doc_id")
  }

  /** Repetition filter (the Gopher-rule family): duplicate-token ratio per
    * document, as an e4-scaled integer plus the keep/drop verdict at a 0.9
    * threshold. Pure projection over the token array — no shuffle. Real
    * corpora extend the same shape to duplicate lines / paragraphs /
    * n-grams; the ratio arithmetic and verdict plumbing are identical. */
  private def q86(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .withColumn("dup_ratio_e4", expr(
        "CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 10000.0" +
          " + 0.5) AS BIGINT)"))
      .withColumn("keep", col("dup_ratio_e4") <= 9000L)
      .orderBy("doc_id")

  /** Skew report — the diagnostic that decides whether a key needs
    * salting ([[graft.operators.SaltedJoin]]) before it melts a reducer:
    * the 20 hottest keys with their share of total traffic (e4-scaled
    * integer). One aggregation + a broadcast total; top-k lands in
    * TakeOrderedAndProject, never a global sort. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val total = ev.agg(count(lit(1)).as("total"))
    ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("user_id"), col("n"),
        expr("CAST(floor(n * 10000.0 / total + 0.5) AS BIGINT)")
          .as("share_e4"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(20)
  }

  /** Balanced-mixture downsampling — the curriculum/mixture control of a
    * corpus pipeline: every source is hash-sampled down toward the size
    * of the SMALLEST source, so the output mixture is (approximately)
    * uniform over sources regardless of how lopsided the crawl was. Rates
    * derive from one aggregation broadcast back; the keep decision is the
    * same deterministic md5-uniform as q62 (reproducible across engines
    * and runs, no RNG state) — a map-side filter at any scale. Outputs
    * report per-source before/after counts, integer-only. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val d = Tables.load(s, dir, "documents")
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_total"))
    val withMin = counts.crossJoin(
      broadcast(counts.agg(min("n_total").as("min_n"))))
    d.join(broadcast(withMin), "source")
      .filter(Hashing.md5Uniform(col("doc_id").cast("string")) <
        col("min_n").cast("double") / col("n_total"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"))
      .join(withMin, "source")
      .select(col("source"), col("n_total"), col("min_n"), col("n_kept"))
      .orderBy("source")
  }

  /** Whole-table profile ([[graft.operators.Profile]]): per-column rows /
    * nulls / exact distincts for events, one aggregation job via Expand.
    * The input-census step of every ingest. */
  private def q94(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
        Tables.load(s, dir, "events"),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
      .orderBy("col_name")

  /** Incremental rollup ([[graft.operators.IncrementalAgg]]): events split
    * into three deterministic "epochs" (event_id % 3), each aggregated to
    * its own mergeable state, states merged and finalized — and the oracle
    * recomputes the rollup directly over ALL rows, pinning
    * merge∘state ≡ state∘union exactly (the algebra incremental pipelines
    * stand on). */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
    val epochs = (0 until 3).map(i =>
      IncrementalAgg.state(
        ev.filter(col("event_id") % 3 === i), Seq("event_type"), col("vc")))
    IncrementalAgg.finalizeState(
        IncrementalAgg.merge(epochs, Seq("event_type")), Seq("event_type"))
      .orderBy("event_type")
  }

  /** LM-based document quality score — the KenLM-style corpus filter
    * shape: build the order-2 LM (global bigram counts, q79's table),
    * score every document by the corpus frequency of its own bigrams
    * (occurrences kept — a repeated bigram scores each time), report the
    * exact sum plus an e3-scaled integer mean. Log-prob scoring would put
    * libm's `ln` (not correctly rounded, varies across builds) in the
    * loop; the frequency score ranks documents identically for filtering
    * purposes and stays bit-exact. Shape: the doc-bigram → LM join is
    * keyed on the gram — at 100 TB the LM table is itself huge, so this
    * is a shuffle join on the gram key, never a broadcast of the
    * vocabulary; one final groupBy per doc. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokensCol(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = toks.withColumn("w2", lead("tok", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("w2"))
    val lm = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("lm_n"))
    bigrams.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lm_n").cast("decimal(38,0)")).cast("long").as("sum_n"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_n"),
        intDiv(lit(1000L) * col("sum_n"), col("n_bigrams")).as("score_e3"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified train/val/test split — the last step before
    * a corpus ships to the tokenizer. Assignment is the q62/q92
    * md5-uniform (reproducible across engines, runs, partitionings; no RNG
    * state to checkpoint): u < 0.8 → train, < 0.9 → val, else test. The
    * census reports per-(lang, split) counts with doc_id extremes so a
    * single flipped assignment breaks the hash. Pure projection + one
    * aggregation — a 100 TB corpus splits in one map pass. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val u = Hashing.md5Uniform(col("doc_id").cast("string"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang", "split")
  }

  /** Equi-width histogram census (20 bins over the integer-cents value
    * domain) — the distribution profile an optimizer or a data-quality
    * dashboard wants. Bounds come from one tiny aggregation broadcast
    * back; the bin id is exact integer arithmetic (⌊(v−lo)·20/(hi−lo+1)⌋
    * via [[graft.functions.Rounding.intDiv]]) rather than either engine's
    * width_bucket (whose edge conventions differ), so the census is
    * bit-stable. Two scans + one groupBy; the classify pass is map-side. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
    val bounds = ev.agg(min("vc").as("lo"), max("vc").as("hi"))
    ev.crossJoin(broadcast(bounds))
      .select(intDiv((col("vc") - col("lo")) * 20L,
        col("hi") - col("lo") + 1L).as("bin"),
        col("vc"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("vc").as("min_c"), max("vc").as("max_c"))
      .orderBy("bin")
  }

  /** Per-source document cap — the common-crawl per-domain cap (no single
    * domain may contribute more than N documents to the corpus), made
    * deterministic: within each source, docs rank by md5(doc_id) — an
    * engine-portable uniform order, decorrelated from ingest order and
    * from every content column — and rank > cap is dropped. Emitted as
    * the full census (doc_id, source, rank, kept flag) so the oracle
    * proves the RANKING, not just the survivor set. One shuffle: the
    * window partitions by source and sorts md5 strings within; ties are
    * impossible (md5 of distinct ids). At 100 TB a hot domain never
    * floods a reducer beyond its own row count, and the kept set is
    * reproducible run-to-run regardless of partitioning. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val cap = 15
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("source").orderBy("h")).cast("long"))
      .select(col("doc_id"), col("source"), col("rank"),
        (col("rank") <= cap).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** Boilerplate-prefix detector: per source, the most common leading
    * 5-token prefix and the exact share of documents that start with it —
    * how crawl pipelines spot template headers ("subscribe to our
    * newsletter …") that repeat across a domain and should be stripped
    * before training. Two aggregations on (source, prefix) then source;
    * the share rides the exact-division grid (n·1e6 passes 2^53 once a
    * source holds ~9e9 template docs — the 100 TB posture again). Tie on
    * count breaks lexicographically on the prefix. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val pref = Tables.load(s, dir, "documents")
      .select(col("source"),
        concat_ws(" ", slice(TextAnalysis.tokensCol(col("text")), 1, 5))
          .as("prefix"))
    val counts = pref.groupBy("source", "prefix")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source")
      .orderBy(col("n").desc, col("prefix"))
    counts
      .withColumn("n_docs", sum("n").over(Window.partitionBy("source")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("source"), col("prefix").as("top_prefix"), col("n"),
        col("n_docs"),
        intDivExact(col("n").cast("decimal(19,0)") * lit(1000000L),
          col("n_docs")).as("share_e6"))
      .orderBy("source")
  }

  /** CCNet-style per-source quality terciles — the calibration move that
    * makes a quality gate FAIR across sources: a global threshold would
    * keep whole high-scoring sources and drop whole low-scoring ones,
    * so CCNet buckets each source's documents into head/middle/tail by
    * quality WITHIN the source and lets the mixer choose per-bucket
    * rates. Score is the q31 composite (stopword/alpha/length), rounded
    * to the e4 grid BEFORE ranking (cross-engine float safety: a raw
    * double orderBy could ulp-flip a rank; the grid + doc_id tie-break
    * cannot); ntile(3) over (score desc, doc_id) within each source;
    * the census emits per-(source, bucket) counts and score bounds. One
    * window shuffle on source, one 60-row rollup — the per-source
    * partition is exactly the key a 1000-executor window spreads on. */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        floor(TextAnalysis.qualityScore(col("text")) * lit(10000.0) +
          lit(0.5)).cast("long").as("q_e4"))
    val w = Window.partitionBy("source")
      .orderBy(col("q_e4").desc, col("doc_id"))
    scored.withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("q_e4").as("min_q_e4"), max("q_e4").as("max_q_e4"))
      .orderBy("source", "bucket")
  }

  /** Quality-gate threshold sweep — the tuning table read before setting
    * any keep/drop cutoff: for each source and each candidate threshold
    * on the e4 quality grid (0, 1000, …, 10000), how many documents
    * survive and what share that is (exact e6). One scan: the 11-row
    * threshold grid broadcasts into a crossJoin (bounded — the q50/q118
    * scalar-table pattern), the census is one keyed aggregation on
    * (source, threshold). Read next to q196: the buckets say WHERE the
    * mass sits, the sweep says what each cutoff would DO. */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val scored = Tables.load(s, dir, "documents")
      .select(col("source"),
        floor(TextAnalysis.qualityScore(col("text")) * lit(10000.0) +
          lit(0.5)).cast("long").as("q_e4"))
    val grid = s.range(0, 11).select((col("id") * 1000L).as("thresh_e4"))
    scored.crossJoin(broadcast(grid))
      .groupBy("source", "thresh_e4")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("q_e4") >= col("thresh_e4")).cast("long")).cast("long")
          .as("n_kept"))
      .withColumn("keep_share_e6",
        intDivExact(
          col("n_kept").cast("decimal(19,0)") * lit(1000000L),
          col("n_docs")))
      .orderBy("source", "thresh_e4")
  }

  /** Deterministic corpus shuffle + shard assignment — the training-order
    * stage between curation and the sharded writer: every document gets a
    * pseudorandom but REPRODUCIBLE position (md5(doc_id) uniform key,
    * doc_id tie-break — a total order) and a shard id (64 docs per
    * shard), so any two runs — and any reader resuming mid-epoch —
    * agree on example order exactly. Position comes from
    * [[graft.operators.GlobalRank]] (range-repartition + broadcast
    * prefix offsets), NEVER `row_number() OVER (ORDER BY …)` whose
    * single-partition window is dead at corpus scale; the oracle states
    * the same order with the window form it can afford at oracle scale. */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val keyed = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Hashing.md5Uniform(col("doc_id").cast("string"))
          .as("u"))
    graft.operators.GlobalRank
      .withRank(keyed, "pos", col("u").asc, col("doc_id").asc)
      .select(col("doc_id"), col("pos"),
        intDiv(col("pos") - lit(1L), lit(64L)).as("shard"))
      .orderBy("pos")
  }

  /** DSIR-style importance resampling (data selection via importance
    * weights against a target domain — here the `lang = 'en'` slice),
    * re-expressed on the engine's exact-integer grid the way q209 de-logs
    * PMI: a token's importance ratio is its target-relative frequency
    * over its corpus-relative frequency, `r_e6 = 1e6·ct·C div (cc·T)`,
    * a document's weight is the MEAN ratio over its token instances
    * (rank-equivalent to the arithmetic-mean form of the likelihood
    * ratio; no floats, no logs — every weight lands on the integer 1e-6
    * grid), and selection is deterministic hash-threshold acceptance
    * with probability weight/wmax: keep iff
    * `md5u32(doc_id)·wmax < weight_e6·2^32` — the q148/q92 coin, so the
    * sample is reproducible and the oracle matches bit-for-bit.
    *
    * Scale shape: one groupBy(tok) builds the ratio table (vocab-sized,
    * stays distributed — joined back to token instances BY KEY, never
    * collected), the two scalar frames (corpus totals, max weight) are
    * one-row broadcasts, and the only other exchange is the
    * groupBy(doc_id) rollup. Overflow discipline: the ratio divides
    * HUGEINT/decimal(38,0) products (ct·C·1e6 ≤ 10^37 for corpora to
    * ~10^14 tokens), and the acceptance compare stays in int64 because
    * md5u32 < 2^32 and wmax = 1e6·C/T·(max mean ratio share) < 2^31
    * whenever the target holds ≥ 0.05% of the corpus — thinner targets
    * would widen the compare to decimal, loudly, not silently. */
  private def q212(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    import graft.functions.Hashing
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
    val tc = toks.groupBy("tok")
      .agg(sum((col("lang") === "en").cast("long")).as("ct"),
        count(lit(1)).as("cc"))
    val tot = tc.agg(sum("ct").as("t"), sum("cc").as("c"))
    val r = tc.crossJoin(broadcast(tot))
      .select(col("tok"),
        intDivExact(
          col("ct").cast("decimal(14,0)") * col("c").cast("decimal(14,0)")
            * lit(1000000L).cast("decimal(7,0)"),
          col("cc").cast("decimal(14,0)") * col("t").cast("decimal(14,0)"))
          .as("r_e6"))
    val dw = toks.join(r, "tok")
      .groupBy("doc_id")
      .agg(intDivExact(sum(col("r_e6").cast("decimal(19,0)")),
        count(lit(1))).as("weight_e6"))
    val mw = dw.agg(max("weight_e6").as("wmax"))
    dw.crossJoin(broadcast(mw))
      .select(col("doc_id"), col("weight_e6"),
        (Hashing.md5U32(col("doc_id").cast("string")) * col("wmax") <
          col("weight_e6") * lit(4294967296L)).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** Exact stratified k-fold assignment (k = 5): every stratum (source)
    * is cut into folds of size ⌈n/k⌉/⌊n/k⌋ EXACTLY — the cross-
    * validation contract q99's hash-proportion split deliberately does
    * not make (hash splits converge to the ratio; folds must be exact).
    * Per-stratum positions come scale-safely: ONE GlobalRank over the
    * total order (source, md5-coin, doc_id) — never a per-stratum
    * row_number window, whose hot partition IS the largest stratum at
    * 100 TB — then rank-in-stratum = global rank − Σ(earlier strata
    * sizes), where the offsets frame has #strata rows (its unpartitioned
    * running-sum window is bounded by construction — the q147 20-row
    * exchange argument) and broadcasts back. fold = (rank_in_stratum − 1)
    * mod k: deterministic, md5-shuffled within stratum, exactly
    * balanced. The oracle states the per-stratum row_number form the
    * engine provably equals. */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val k = 5
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        Hashing.md5U32(col("doc_id").cast("string")).as("u"))
    val ranked = graft.operators.GlobalRank
      .withRank(d, "grank", col("source"), col("u"), col("doc_id"))
    val offsets = ranked.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum("n").over(Window.orderBy("source")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "off")
    ranked.join(broadcast(offsets), "source")
      .select(col("doc_id"), col("source"),
        ((col("grank") - col("off") - 1) % k).cast("long").as("fold"))
      .orderBy("doc_id")
  }

  /** Graded benchmark-contamination scoring — q84's decontamination gate
    * reports WHO overlaps (inner join, hit counts); real eval hygiene
    * reports HOW MUCH, for every candidate document including the clean
    * ones: contamination = |doc's distinct 4-grams ∩ benchmark grams| /
    * |doc's distinct 4-grams| on the exact e6 grid, plus the standard
    * ≥10% flag (the n-gram-overlap contamination rule of GPT-3-era eval
    * cards, de-floated). Same broadcast-benchmark shape as q84 — the
    * held-out gram set stays a broadcast semi-side, candidates stream
    * past it with a LEFT join so zero-hit docs keep their denominator —
    * one groupBy(doc_id) exchange, division via the decimal intDivExact
    * chain. */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val grams = Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextAnalysis.ngramsFromTokens(col("toks"), 4)).as("gram"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select("gram").distinct().withColumn("hit", lit(1L))
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("contamination_e6",
        intDivExact(col("n_shared").cast("decimal(19,0)") * lit(1000000L),
          col("n_grams")))
      .withColumn("flagged",
        (col("contamination_e6") >= 100000L).cast("long"))
      .orderBy("doc_id")
  }

  /** Simpson concentration of the source mixture, per language — the
    * scalar the q92/q139 balancing passes exist to move: λ is the exact
    * probability that two random documents of a language come from the
    * SAME source (Σ nᵢ(nᵢ−1) / N(N−1), the unbiased finite-population
    * form), on the integer e6 grid — λ→1/#sources means balanced, λ→1
    * means one source owns the language. No floats anywhere: the
    * numerator and denominator are exact integer products and one
    * decimal division per language (CASE-guarded at N ≤ 1). One
    * aggregation per (lang, source), then a ~#langs rollup. */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    def d14(c: org.apache.spark.sql.Column) = c.cast("decimal(14,0)")
    Tables.load(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sources"),
        sum("n").cast("long").as("n_docs"),
        sum(d14(col("n")) * d14(col("n") - 1)).as("pairs_same"))
      .select(col("lang"), col("n_sources"), col("n_docs"),
        when(col("n_docs") <= 1, lit(0L))
          .otherwise(intDivExact(
            col("pairs_same") * lit(1000000L),
            d14(col("n_docs")) * d14(col("n_docs") - 1)))
          .as("simpson_e6"))
      .orderBy("lang")
  }

  /** Cross-source quantile normalization — the batch-effect correction
    * every multi-source score column needs before a single global
    * threshold makes sense (each crawl/source scores on its own scale;
    * a 0.7 from source A ≠ a 0.7 from source B). Each document's value
    * (n_chars here — the method is score-agnostic) maps to the GLOBAL
    * value at its within-source midpoint quantile: r-th of n_s in its
    * source → global position ⌈(2r−1)·N / (2·n_s)⌉. All positions are
    * exact integers (ceil as (a+b−1) div b through intDivExact/HUGEINT
    * — products widen past int64 at corpus scale, so the decimal chain
    * is load-bearing, not pedantry). Within-source ranks are per-source
    * windows (high-cardinality partitions); the GLOBAL rank is
    * [[graft.operators.GlobalRank]] — range-repartition + broadcast
    * prefix offsets, never a 1-task window — and the final lookup is a
    * keyed equi-join on position. */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    // localCheckpoint (r20, guide §1.2): the (doc, source, n_chars)
    // projection feeds three consumers (the per-source rank window, the
    // GlobalRank input, the total count) — lazily planned, the documents
    // scan decompressed the full text column three times just to take
    // its length. Three longs per doc, checkpoint-safe.
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .transform(checkpoint)
    val wSrc = Window.partitionBy("source")
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = d
      .withColumn("src_rank", row_number().over(wSrc).cast("long"))
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy("source")))
    val globalRanked = graft.operators.GlobalRank
      .withRank(d.select(col("n_chars").as("g_chars"),
        col("doc_id").as("g_doc")), "g_pos",
        col("g_chars"), col("g_doc"))
      .select(col("g_pos"), col("g_chars"))
    val nTotal = d.groupBy().agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(nTotal))
      .withColumn("pos", intDivExact(
        (lit(2L) * col("src_rank") - lit(1L)).cast("decimal(38,0)") *
          col("n_total") + lit(2L) * col("n_src") - lit(1L),
        lit(2L) * col("n_src")))
      .join(globalRanked, col("pos") === col("g_pos"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("src_rank"), col("pos"), col("g_chars").as("norm_chars"))
      .orderBy("doc_id")
  }

  /** Exact-k deterministic sample per source — the eval-set/inspection
    * draw q62's RATE sampling cannot promise (a rate gives you
    * Binomial(n, p) rows; an eval set wants exactly k). Every doc gets
    * the md5-derived uniform (stable across runs, partitionings, and
    * engines — no RNG state), and each source keeps its k = 10 smallest
    * (u, doc_id) — equivalent to a seeded uniform draw without
    * replacement. One window per source; partitions are per-source and
    * the kept prefix is k rows, so no buffer exceeds k — at 100 TB this
    * is the per-group TakeOrdered shape, not a global sort. */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val u = Hashing.md5Uniform(col("doc_id").cast("string"))
    val w = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), u.as("u"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= 10)
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between two sources'
    * length distributions — the distribution-shift gate a pipeline runs
    * when a crawl source changes upstream (new boilerplate, different
    * truncation → the length CDF moves first). Exactly integral the
    * whole way: D = max|F_a − F_b| over the merged support is
    * max|cum_a·n_b − cum_b·n_a| / (n_a·n_b), computed on counts — no
    * float CDF ever materializes, and the argmax value rides along via
    * the min-struct trick (max gap, ties to the smallest length). The
    * ordered walk runs over DISTINCT length values — support-bounded
    * (≲ thousands), NOT corpus-bounded, the q229 histogram-cell
    * discipline — and the final e6 division is exact rational
    * (intDivExact/HUGEINT: cum·n products pass int64 at corpus scale).
    * ks_e6 ≥ ~50000 on this pair says the two sources need separate
    * curation thresholds. */
  private def q236(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val d = Tables.load(s, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), length(col("text")).cast("long").as("len"))
    val cells = d.groupBy("len")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = d.groupBy()
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("na"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("nb"))
    cells
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("len"),
        abs(col("cum_a") * col("nb") - col("cum_b") * col("na"))
          .as("gap_num"))
      .groupBy("na", "nb")
      .agg(max(col("gap_num")).as("max_gap_num"),
        min(struct((-col("gap_num")).as("ng"), col("len").as("l")))
          .as("am"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("max_gap_num"), col("am.l").as("len_at_max"),
        intDivExact(
          col("max_gap_num").cast("decimal(38,0)") * lit(2000000L) +
            col("na") * col("nb"),
          lit(2L) * col("na") * col("nb")).as("ks_e6"))
  }

  /** Pairwise KS drift matrix over ALL sources — q236 is the two-source
    * drill-down; this is the monitoring sweep that finds WHICH pair
    * drifted: for every source pair, the exact KS statistic between
    * their length distributions. Build once, compare many: each
    * source's integer CDF is materialized over the SHARED support (the
    * distinct lengths × sources grid — support-bounded × 20, zero-fill
    * for lengths a source never hits, one windowed pass per source),
    * then one len-keyed self-join scores all 190 pairs without
    * re-scanning documents. Same exact integer arithmetic as q236:
    * gap = |cum_a·n_b − cum_b·n_a|, ks_e6 exact rational via HUGEINT.
    * High cells (≥ ~0.3) mean those two sources cannot share one
    * curation threshold — the q234 normalization is the fix. */
  private def q240(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val d = Tables.load(s, dir, "documents")
      .select(col("source"), length(col("text")).cast("long").as("len"))
    val cells = d.groupBy("source", "len").agg(count(lit(1)).as("c"))
    val support = cells.select("len").distinct()
    val srcTot = d.groupBy("source").agg(count(lit(1)).as("n"))
    val grid = support.crossJoin(srcTot)
      .join(cells, Seq("source", "len"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum", sum("c0").over(w))
      .select(col("source"), col("len"), col("cum"), col("n"))
    val pairs = cum.select(col("source").as("src_a"), col("len"),
        col("cum").as("cum_a"), col("n").as("n_a"))
      .join(cum.select(col("source").as("src_b"), col("len"),
        col("cum").as("cum_b"), col("n").as("n_b")), "len")
      .filter(col("src_a") < col("src_b"))
    pairs
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
          .as("gap_num"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(max("gap_num").as("max_gap_num"))
      .select(col("src_a"), col("src_b"),
        intDivExact(
          col("max_gap_num").cast("decimal(38,0)") * lit(2000000L) +
            col("n_a") * col("n_b"),
          lit(2L) * col("n_a") * col("n_b")).as("ks_e6"))
      .orderBy("src_a", "src_b")
  }

  /** Proportional token-budget apportionment with largest-remainder
    * (Hamilton) rounding — the exact answer to "give each source its
    * fair share of a 1,000,000-token budget": naive floor(B·t/T) per
    * source under-allocates by up to #sources−1 tokens, naive rounding
    * can overshoot; Hamilton hands each source its floor quota and the
    * leftover one-by-one to the largest remainders (r = B·t mod T,
    * integer!), so Σalloc ≡ B EXACTLY — the invariant the hash pins.
    * Tie-break on (remainder DESC, source): fully deterministic. The
    * window ranks #sources rows (bounded); products ride
    * decimal/HUGEINT so petabyte token counts cannot wrap. */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val budget = 1000000L
    val toks = Tables.load(s, dir, "documents")
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("t"))
      .groupBy("source")
      .agg(sum(col("t").cast("decimal(38,0)")).cast("long").as("tokens"))
    val tot = toks.groupBy().agg(sum(col("tokens").cast("decimal(38,0)"))
      .cast("long").as("total"))
    val based = toks.crossJoin(broadcast(tot))
      .withColumn("floor_alloc", intDivExact(
        col("tokens").cast("decimal(38,0)") * lit(budget), col("total")))
      .withColumn("rem", (col("tokens").cast("decimal(38,0)") *
        lit(budget) % col("total").cast("decimal(38,0)")).cast("long"))
    val leftover = Window.partitionBy(lit(1))
    val rk = Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("source"))
    based
      .withColumn("short",
        lit(budget) - sum("floor_alloc").over(leftover))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .select(col("source"), col("tokens"),
        (col("floor_alloc") +
          when(col("rk") <= col("short"), 1L).otherwise(0L)).as("alloc"))
      .orderBy("source")
  }

  /** 1-D Wasserstein (earth-mover) distance between two sources' length
    * distributions — the INTEGRAL drift metric to q236's KS maximum: a
    * small-but-everywhere shift moves W₁ while barely moving KS, so
    * monitors run both. In one dimension W₁ = ∫|F_a − F_b| dx, which
    * over the support cells is EXACTLY Σ |cum_a·n_b − cum_b·n_a| ·
    * (next_len − len) / (n_a·n_b) — integer numerator through
    * decimal(38,0) (the q236 gap scaled by each cell's width), one
    * exact rational division at the end (units: characters, e4 grid).
    * Same support-bounded ordered walk as q236. */
  private def q274(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val d = Tables.load(s, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), length(col("text")).cast("long").as("len"))
    val cells = d.groupBy("len")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
    val tot = d.groupBy()
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("na"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("nb"))
    val run = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nxt = Window.orderBy("len")
    cells
      .withColumn("cum_a", sum("ca").over(run))
      .withColumn("cum_b", sum("cb").over(run))
      .withColumn("next_len", lead("len", 1).over(nxt))
      .filter(col("next_len").isNotNull)
      .crossJoin(broadcast(tot))
      .groupBy("na", "nb")
      .agg(sum((abs(col("cum_a") * col("nb") - col("cum_b") * col("na")) *
        (col("next_len") - col("len"))).cast("decimal(38,0)"))
        .cast("long").as("w1_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("w1_num"),
        intDivExact(
          col("w1_num").cast("decimal(38,0)") * lit(20000L) +
            col("na") * col("nb"),
          lit(2L) * col("na") * col("nb")).as("w1_e4"))
  }

  /** THE composed corpus build — the whole curation pipeline as ONE
    * driver-verified query (round-12 verdict item 6): quality gate →
    * exact dedup → near dedup → benchmark decontamination → per-source
    * token-cap mix → deterministic split → contiguous packing → shard
    * manifest. Each stage is an already-oracle-checked operator (q31/q40/
    * q67/q84/q99/q77/q237 families) chained through the SAME composed
    * API a library user would call ([[graft.operators.DedupPipeline]],
    * [[graft.operators.SequencePack]]); what this query adds is a DuckDB
    * twin of the ENTIRE composition, so a stage-boundary bug (dedup over
    * the unfiltered corpus, decontamination before dedup widening the
    * benchmark, a split computed pre-mix) breaks the hash even when every
    * stage is individually correct. The manifest row set is (split,
    * shard): doc/pack/token counts plus an order-independent membership
    * checksum (sum of md5-u32 over doc ids) — counts alone would pass
    * under a wrong-but-equinumerous membership; the checksum pins WHICH
    * docs shipped.
    *
    * Stage parameters (fixed, part of the contract): minChars=100,
    * langs {en,de,fr,es}; 5-gram Jaccard ≥ 0.5, df ∈ [2,1000];
    * benchmark = doc_id ≡ 0 (mod 97), 4-gram containment, drop on ANY
    * shared gram; per-source cap = ⌊t_total · quota_s / 10⁸⌋ from q375's
    * policy-applied quota table (the certified verdict→tier→quota chain,
    * r16 verdict item 1) with the straddling doc kept (water-fill
    * convention, q297), fill order stage-salted md5-u32;
    * split 80/10/10 by md5-uniform (q99); pack budget 512 tokens per
    * split in doc_id order (q77's contiguous scheme — SQL-expressible,
    * unlike first-fit); 4 shards by pack_id mod.
    *
    * Scale: every stage is a keyed join/aggregation inherited from its
    * parent operator (near-dup mining is df-gated posting lists, CC is
    * [[graft.operators.ConnectedComponents]]); the only broadcasts are
    * the benchmark gram set (1/97 of the corpus — the q84 trade) and two
    * one-row totals. The windows partition by source and by split; a
    * single giant split serializes its cumulative sum, intrinsic to
    * order-respecting packing (shard the stream key upstream at real
    * scale — [[graft.operators.SequencePack]]'s documented posture). */
  /** The near-dedup COMPONENT MAP is the expensive boundary of the
    * composed build (it owns the CC run) and feeds q353/q354/q355/q360
    * plus the q361 keeper-policy comparison — memoized checkpointed,
    * the q108Stages discipline. The survivor set (q354's "4_near_dedup"
    * stage) derives from it by the keeper rule `id == comp`, so
    * memoizing the map instead of the survivors serves BOTH consumers
    * with one CC run. */
  private val corpusCompMemo = new graft.operators.SessionDirMemo[DataFrame]

  /** Memoized (id, comp) map over the quality+exact survivors. */
  private def corpusComponents(s: SparkSession, dir: String,
      exact: DataFrame): DataFrame =
    corpusCompMemo.get(s, dir) {
      graft.operators.DedupPipeline.nearComponents(
        exact, "doc_id", "text", n = 5, threshold = 0.5, maxDf = 1000L)
    }

  /** Second memo boundary, at the MIX stage (r13 bench: the
    * decontaminate-gram join + water-fill window downstream of the
    * memoized near survivors still cost ~1s per consumer, × four
    * consumers q353/q354/q355/q360). The near boundary stays memoized
    * separately because q354's funnel reads the intermediate stages. */
  private val corpusMixMemo = new graft.operators.SessionDirMemo[DataFrame]

  /** The composed pipeline's stage frames, lazily chained over the
    * memoized near-dedup component map and mixed survivors. Inside
    * `SessionDirMemo.rawChain` every stage is the raw lazy chain instead
    * (the reference the plan gates and the neutrality spec read).
    * Returns (input, quality, exact, near, clean, mixed) — clean and
    * mixed carry `n_tokens`. */
  private[graft] def corpusStages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame) = {
    import graft.operators.{DedupPipeline, SessionDirMemo}
    val raw = SessionDirMemo.inRawChain
    val docs = Tables.load(s, dir, "documents")
    // 1. quality gate
    val quality = docs.filter(length(col("text")) >= 100L &&
      col("lang").isin("en", "de", "fr", "es"))
    // 2–3. exact + near dedup. Memoized path: min-id keepers derive
    // from the memoized CC component map (keeper rule id == comp), so
    // the CC run is shared with q361's cluster-level policy query. The
    // raw path keeps DedupPipeline.near's own eager-keeper hygiene.
    val exact = DedupPipeline.exact(quality, "doc_id", "text")
    val near =
      if (raw) DedupPipeline.near(exact, "doc_id", "text",
        n = 5, threshold = 0.5, maxDf = 1000L)
      else exact.join(
        corpusComponents(s, dir, exact)
          .filter(col("id") === col("comp"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
    // 4. decontaminate: bench grams come from the RAW corpus (benchmark
    // membership is external to the pipeline — q84's contract)
    val gram4 = near
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(TextAnalysis.ngramsFromTokens(col("tk"), 4)).as("gram"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(TextAnalysis.tokensCol(col("text")).as("tk"))
      .select(explode(TextAnalysis.ngramsFromTokens(col("tk"), 4))
        .as("gram"))
      .distinct()
    val contaminated = gram4.join(broadcast(bench), "gram")
      .select("doc_id").distinct()
    val clean = near.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("n_tokens",
        size(TextAnalysis.tokensCol(col("text"))).cast("long"))
    // 5. mix: water-fill each source to its POLICY-CERTIFIED token share
    // (r16 verdict item 1) — the per-source cap is no longer a hardcoded
    // ⌊4%·total⌋ but ⌊t_total · quota_s / 10⁸⌋ from q375's policy-applied
    // quota table (verdict → tier → quota), so the shipped corpus's
    // composition is decided by the oracle-checked decision chain: a
    // drifted corpus that flips the q373 verdict re-tiers the quota and
    // re-mixes the build with no code change (MixPolicySpec pins the
    // flip changing composition). Fill order and salt discipline live in
    // [[mixStage]]. Memoized path: the quota collapses to a
    // collected MAP LITERAL (≤ |sources| rows, one bounded collect per
    // build — the bounded-dimension analogue of a broadcast) because
    // localCheckpoint PROPAGATES the origin plan's size estimate
    // (Spark 4 LogicalRDD.fromDataset) and size-only join estimates
    // MULTIPLY: any quota join in the origin — even against a 20-row
    // LocalRelation — inflates the mixed leaf's sizeInBytes ~600×
    // (measured 7·10⁸; the fully lazy form 4·10¹⁹), flipping every
    // downstream consumer's adjudicated broadcast (q357's pair mining,
    // q369's scoring join) to a sort-merge join. The map form keeps the
    // old plan shape exactly: one window, one 1-row tot broadcast, one
    // codegen'd literal lookup. Raw path stays fully lazy so
    // PlanGateSpec audits the whole chain; MemoNeutralitySpec pins the
    // two forms row-identical.
    val mixed = corpusMixMemo.get(s, dir)(SessionDirMemo.pin(
      if (raw) mixStage(clean, QualityModelQueries.policyQuota(s, dir))
      else mixStage(clean, QualityModelQueries.policyQuota(s, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)))
    (docs, quality, exact, near, clean, mixed)
  }

  /** Stage-5 mix arithmetic over an explicit (clean, quota) pair — split
    * out (the quotaTable/nbGateVerdict discipline) so the verdict-flip
    * spec and fixture-driven twins can drive it without the corpus
    * substrate. Water-fill each source, in STAGE-SALTED md5-u32 order
    * ("mix:" || id — deterministic in both engines, and decorrelated BY
    * CONSTRUCTION from the split stage's unsalted md5-uniform; the salt
    * is not optional hygiene: the first q357 release-audit run caught
    * the unsalted form skewing the train fraction to 89.6%/92.5% at
    * sf0.001/sf0.01 — mix keeps the SMALL-hash docs, and with the same
    * hash deciding the split, "kept" and "< 0.8" were the same event;
    * one hash per independent decision, always), up to
    * cap_s = ⌊t_total · quota_s / 10⁸⌋ — the source's certified share of
    * the clean total (straddling doc kept, the q297 convention). A
    * source with quota 0 (e.g. nothing scored → mult 0) ships NOTHING.
    * Scale: the quota is the bounded source set behind a broadcast; the
    * cap product is decimal-widened (t_total·quota ≈ 10²¹ at 100 TB —
    * past int64, inside decimal(38,0)). */
  private[graft] def mixStage(clean: DataFrame,
      quota: DataFrame): DataFrame =
    mixFill(clean, _.join(broadcast(quota.select(col("source"),
      coalesce(col("quota_tokens"), lit(0L)).as("cap_quota"))),
      Seq("source")))

  /** [[mixStage]]'s map-literal twin — identical arithmetic with the
    * bounded quota as a collected literal instead of a joined frame
    * (the memoized build path: a quota JOIN in the checkpoint's
    * origin plan product-inflates the leaf's size estimate and kills
    * downstream broadcasts — see corpusStages). MemoNeutralitySpec pins
    * the two forms row-identical via `SessionDirMemo.rawChain`. */
  private[graft] def mixStage(clean: DataFrame,
      quota: Map[String, Long]): DataFrame =
    mixFill(clean, _.withColumn("cap_quota",
      coalesce(element_at(typedLit(quota), col("source")), lit(0L))))

  private def mixFill(clean: DataFrame,
      withCap: DataFrame => DataFrame): DataFrame = {
    import graft.functions.Hashing
    val u32m = Hashing.md5U32(
      concat(lit("mix:"), col("doc_id").cast("string")))
    val tot = clean.agg(sum("n_tokens").as("t_total"))
    val fillW = Window.partitionBy("source").orderBy(u32m, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withCap(clean.withColumn("cum", sum("n_tokens").over(fillW)))
      .crossJoin(broadcast(tot))
      .filter(col("cum") - col("n_tokens") < Rounding.intDivExact(
        col("cap_quota").cast("decimal(38,0)") * col("t_total"),
        lit(100000000L)))
      // normalize column order: the join form's USING(source) moves the
      // key first, the map form doesn't — pin one order so the raw/memo
      // neutrality twin compares like for like
      .select((clean.columns.toIndexedSeq :+ "cum" :+ "t_total")
        .map(col): _*)
  }

  /** Stage 6→7 of the composed build: 80/10/10 split over the mixed
    * survivors (q99's md5-uniform). Shared by q353 and q355. */
  private[graft] def splitStage(mixed: DataFrame): DataFrame = {
    val uu = graft.functions.Hashing.md5Uniform(col("doc_id").cast("string"))
    mixed.withColumn("split",
      when(uu < 0.8, "train").when(uu < 0.9, "val").otherwise("test"))
  }

  private def q353(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SequencePack
    import graft.functions.Hashing
    val (_, _, _, _, _, mixed) = corpusStages(s, dir)
    val u32 = Hashing.md5U32(col("doc_id").cast("string"))
    val packed = SequencePack.contiguous(
      splitStage(mixed), "split", "doc_id", col("n_tokens"), 512L)
    // 8. shard manifest with membership checksum
    packed
      .groupBy(col("split"), (col("pack_id") % 4L).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("pack_id").as("n_packs"),
        sum("n_tokens").as("n_tokens"),
        sum(u32).as("id_checksum"))
      .orderBy("split", "shard")
  }

  /** Stage-attrition funnel of the SAME composed build (q353's chain,
    * stage boundaries included): doc and token counts after each of the
    * six stages — the audit artifact every corpus release ships next to
    * its manifest, and the number the pipeline operator reads FIRST when
    * a build looks wrong ("which stage ate the corpus?"). The named
    * consumer is q353 itself: a q353 manifest diff plus this funnel
    * localizes a regression to one stage without re-running anything.
    * Same oracle CTE chain as q353 (shared [[corpusCtes]]), different
    * final SELECT — so the two queries cross-check each other's stage
    * boundaries under the driver hash. Each stage row is one count
    * aggregate; the near stage reads the memoized survivor set. */
  private def q354(s: SparkSession, dir: String): DataFrame = {
    val (docs, quality, exact, near, clean, mixed) = corpusStages(s, dir)
    def row(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(TextAnalysis.tokensCol(col("text")))
            .cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    def rowTok(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    row("1_input", docs)
      .unionAll(row("2_quality", quality))
      .unionAll(row("3_exact_dedup", exact))
      .unionAll(row("4_near_dedup", near))
      .unionAll(rowTok("5_decontaminated", clean))
      .unionAll(rowTok("6_mixed", mixed))
      .orderBy("stage")
  }

  /** Pack-budget sweep planner — the measurement that CHOOSES q353's
    * packing budget instead of hard-coding it blind (the q344
    * salt-planner pattern: a planner query feeding a pipeline constant):
    * the mixed corpus is packed contiguously at each candidate budget
    * (256/512/1024) per split, and each (budget, split) cell reports
    * pack count, exact e4 fill ratio (tokens vs n_packs·budget), and
    * the oversized-doc count (docs longer than the budget, which q77's
    * contiguous scheme necessarily splits across pack boundaries — at
    * real scale the signal to pre-chunk upstream). The sweep rides ONE
    * frame: a 3-row budget dimension cross-joined (broadcast) onto the
    * mixed survivors, one window pass per (budget, split) partition —
    * no per-budget re-scan of the corpus. */
  private def q355(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val (_, _, _, _, _, mixed) = corpusStages(s, dir)
    val sp = splitStage(mixed).select("doc_id", "split", "n_tokens")
    val budgets = s.range(1).select(
      explode(array(lit(256L), lit(512L), lit(1024L))).as("budget"))
    val w = Window.partitionBy("budget", "split").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sp.crossJoin(broadcast(budgets))
      .withColumn("cum_w", sum("n_tokens").over(w))
      .withColumn("pack_id",
        floor((col("cum_w") - col("n_tokens")) /
          col("budget").cast("double")).cast("long"))
      .groupBy("budget", "split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("pack_id").as("n_packs"),
        sum("n_tokens").as("n_tokens"),
        sum((col("n_tokens") > col("budget")).cast("long"))
          .as("n_oversize"))
      .withColumn("fill_e4", intDivExact(
        col("n_tokens").cast("decimal(38,0)") * lit(10000L),
        col("n_packs").cast("decimal(38,0)") * col("budget")))
      .orderBy("budget", "split")
  }

  /** Vocabulary-richness census per language — the tokenizer-planning
    * readout (named consumer: vocab-size budgeting and OOV-rate
    * forecasting before training a tokenizer on the corpus): per lang,
    * total token instances N, observed vocabulary D, the singleton/
    * doubleton counts f1/f2, the bias-corrected Chao1 richness estimate
    * D + f1·(f1−1)/(2·(f2+1)) (how much vocabulary the corpus has NOT
    * yet shown — always defined, unlike the classic f1²/2f2 form), and
    * the Good–Turing unseen-probability mass f1/N (the chance the next
    * token is novel). Both estimators live on the exact integer grid
    * (e2 / e9) via the decimal cross-multiply discipline — counts in,
    * integers out, no floats anywhere. One explode + two aggregations;
    * the (lang, token) space is observed-vocabulary-sized, never
    * vocabulary² — the q79 posture. */
  private def q356(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    Tables.load(s, dir, "documents")
      .select(col("lang"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum((col("c") === 1L).cast("long")).as("f1"),
        sum((col("c") === 2L).cast("long")).as("f2"))
      .withColumn("chao1_e2",
        col("vocab") * lit(100L) + intDivExact(
          col("f1").cast("decimal(38,0)") * (col("f1") - lit(1L)) *
            lit(100L),
          (col("f2") + lit(1L)).cast("decimal(38,0)") * lit(2L)))
      .withColumn("unseen_mass_e9", intDivExact(
        col("f1").cast("decimal(38,0)") * lit(1000000000L),
        col("n_tokens").cast("decimal(38,0)")))
      .orderBy("lang")
  }

  /** Release audit of the composed corpus — the ship/no-ship gate a
    * corpus release runs over the OUTPUT, independently of how it was
    * built (the "trust but re-verify" posture: a pipeline bug that
    * silently skipped a stage passes construction-time checks and the
    * per-stage oracles, but cannot pass a re-measurement of the final
    * survivors). Five checks, each re-derived from the mixed survivor
    * set: exact-duplicate docs (re-fingerprinted — must be 0), near-dup
    * pairs at the build threshold (pair mining re-RUN over the
    * survivors — must be 0), benchmark-contaminated docs and benchmark
    * members (re-screened — must be 0), and the train-split fraction
    * (e4, must sit in [7000, 9000] — md5-uniform drift detector). Each
    * row: (check, observed, bound_lo, bound_hi, pass). Named consumer:
    * q353 — this is the query a release pipeline gates a publish on.
    * Scale: every check is an aggregate of an already-keyed relation
    * over the (small, post-mix) survivor set; pair mining reuses the
    * df-gated [[graft.operators.DedupPipeline.nearDupPairs]] chain. */
  private def q357(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupPipeline
    // mixed0 is already a materialized leaf (the mix-stage memo hands out
    // a checkpointed frame); re-checkpointing it here duplicated the
    // cached blocks and never released the copy (ADVICE r13).
    val (docs, _, _, _, _, mixed) = corpusStages(s, dir)
    def check(name: String, observed: org.apache.spark.sql.Column,
        src: DataFrame, lo: Long, hi: Long): DataFrame =
      src.agg(coalesce(observed, lit(0L)).as("observed"))
        .select(lit(name).as("check"), col("observed"),
          lit(lo).as("bound_lo"), lit(hi).as("bound_hi"),
          (col("observed") >= lo && col("observed") <= hi)
            .cast("long").as("pass"))
    // 1. re-fingerprint: docs sharing a fingerprint with another doc
    val fps = mixed.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("c"))
    val exactDups = check("1_exact_dup_docs",
      sum(when(col("c") > 1L, col("c"))), fps, 0L, 0L)
    // 2. re-run pair mining at the build threshold over the survivors
    val nearPairs = check("2_near_pairs_at_0_5", count(lit(1)),
      DedupPipeline.nearDupPairs(mixed, "doc_id", "text",
        n = 5, minJaccard = 0.5, maxDf = 1000L), 0L, 0L)
    // 3–4. re-screen contamination against the raw benchmark set
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(TextAnalysis.tokensCol(col("text")).as("tk"))
      .select(explode(TextAnalysis.ngramsFromTokens(col("tk"), 4))
        .as("gram"))
      .distinct()
    val contam = check("3_contaminated_docs", count(lit(1)),
      mixed.select(col("doc_id"),
          TextAnalysis.tokensCol(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(TextAnalysis.ngramsFromTokens(col("tk"), 4)).as("gram"))
        .join(broadcast(bench), "gram")
        .select("doc_id").distinct(), 0L, 0L)
    val benchMembers = check("4_benchmark_members", count(lit(1)),
      mixed.filter(col("doc_id") % 97 === 0), 0L, 0L)
    // 5. split-fraction drift (e4): md5-uniform must keep train near 80%
    val trainFrac = check("5_train_frac_e4",
      graft.functions.Rounding.intDiv(
        sum((col("split") === "train").cast("long")) * lit(10000L),
        count(lit(1))),
      splitStage(mixed), 7000L, 9000L)
    exactDups.unionAll(nearPairs).unionAll(contam)
      .unionAll(benchMembers).unionAll(trainFrac)
      .orderBy("check")
  }

  /** BPE merge-pair census — the first tokenizer-training iteration at
    * corpus scale (named consumer: the merges behind the vocabulary
    * that q356's richness census budgets): every adjacent character
    * pair inside every word, weighted by corpus word frequency, plus
    * vocabulary support (distinct words containing the pair). The
    * decisive scale property is aggregation ORDER: words collapse to
    * the Zipf-bounded (word, freq) vocabulary FIRST (one corpus-scale
    * explode + count), so the pair explode runs over the VOCABULARY —
    * at 100 TB the census costs vocab × avg-word-len, not corpus
    * tokens × avg-word-len; this ordering is the reason BPE training
    * over a web corpus is feasible at all. Overlapping pairs count
    * positionally ("aaa" → (a,a) twice), the standard census; a full
    * trainer iterates apply-merge → re-census over the same
    * vocab-bounded frame with the q255 checkpoint discipline. Top 20
    * by weighted count, pair tie-break — deterministic in both
    * engines. */
  private def q359(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(s, dir, "documents")
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("n_weighted"),
        countDistinct("w").as("n_words"))
      .orderBy(col("n_weighted").desc, col("pair"))
      .limit(20)
  }

  /** Token-offset → document lookup — loss-spike forensics over the
    * packed corpus (named consumer: "training loss spiked at global
    * token offset T of split s; which document was the model
    * reading?" — the inverse of q353's packing map, the query a
    * training-run postmortem starts with). Probes are the 1/8, 3/8,
    * 5/8, 7/8 points of each split's token stream (deterministic and
    * split-relative, so the probe table is 4·|splits| rows at ANY
    * corpus size). Each probe joins the per-document cumulative token
    * intervals [cum−n, cum) of the same doc_id-ordered stream the
    * packer walks — an equi-join on split with the interval test as a
    * post-join filter against the broadcast 12-row probe side —
    * recovering (doc_id, pack_id, offset inside the doc). The interval
    * frame is the packing window's own; no extra corpus pass. */
  private def q360(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val (_, _, _, _, _, mixed) = corpusStages(s, dir)
    val sp = splitStage(mixed).select("doc_id", "split", "n_tokens")
    val w = Window.partitionBy("split").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iv = sp.withColumn("cum", sum("n_tokens").over(w))
      .select(col("split"), col("doc_id"),
        (col("cum") - col("n_tokens")).as("lo"), col("cum").as("hi"))
    val probes = iv.groupBy("split").agg(max("hi").as("t_split"))
      .select(col("split").as("split_p"), col("t_split"),
        explode(array(lit(1L), lit(3L), lit(5L), lit(7L))).as("k"))
      .select(col("split_p"),
        intDiv(col("t_split") * col("k"), lit(8L)).as("t_offset"))
    iv.join(broadcast(probes),
        col("split") === col("split_p") &&
          col("t_offset") >= col("lo") && col("t_offset") < col("hi"))
      .select(col("split"), col("t_offset"), col("doc_id"),
        floor(col("lo").cast("double") / lit(512.0)).cast("long")
          .as("pack_id"),
        (col("t_offset") - col("lo")).as("off_in_doc"))
      .orderBy("split", "t_offset")
  }

  /** Keeper-policy comparison over the near-dup clusters — the
    * cluster-level decision the build currently hard-codes (min-id
    * keeper): for every multi-document cluster, what would each policy
    * keep? `min_id` (the deterministic default) vs `max_tokens`
    * (quality-weighted: keep the longest copy, ties to the smaller id).
    * One row per policy — multi-cluster census plus total kept tokens;
    * the delta between the rows is the token mass a smarter keeper
    * recovers, the number that decides whether re-keying the dedup
    * stage is worth a corpus rebuild. Rides the SAME memoized CC
    * component map as the build (one CC run feeds stage 3 and this
    * audit). Keeper selection is integer-packed argmin/argmax
    * (id·10¹² + tok and id − tok·10¹², doc_id < 10¹² documented bound,
    * widened through decimal/HUGEINT), so both engines pick identical
    * keepers with no min_by tie ambiguity. */
  private def q361(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val (_, _, exact, _, _, _) = corpusStages(s, dir)
    val comp = corpusComponents(s, dir, exact)
    val L = 1000000000000L
    val m = comp.join(
      exact.select(col("doc_id").as("id"),
        size(TextAnalysis.tokensCol(col("text"))).cast("long").as("tok")),
      "id")
    val cs = m.groupBy("comp")
      .agg(count(lit(1)).as("n_docs"),
        min(col("id").cast("decimal(38,0)") * lit(L) + col("tok"))
          .as("p_min"),
        min(col("id").cast("decimal(38,0)") -
          col("tok").cast("decimal(38,0)") * lit(L)).as("p_max"))
      .filter(col("n_docs") >= 2L)
    def rowOf(policy: String,
        keptTok: org.apache.spark.sql.Column): DataFrame =
      cs.agg(count(lit(1)).as("n_clusters"),
          coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
          coalesce(sum(keptTok).cast("long"), lit(0L)).as("kept_tokens"))
        .select(lit(policy).as("policy"), col("n_clusters"),
          col("n_docs"), col("kept_tokens"))
    rowOf("min_id", (col("p_min") % lit(L)).cast("long"))
      .unionAll(rowOf("max_tokens",
        intDivExact(lit(L) - lit(1L) - col("p_max"), lit(L))))
      .orderBy("policy")
  }

  /** Dedup-aggressiveness curve — the threshold sweep that justifies
    * the build's hard-coded Jaccard 0.5 (the q355/q344 planner pattern
    * pointed at the dedup knob): ONE pair-mining run over the build's
    * own stage input (quality+exact survivors, same n=5/maxDf=1000
    * parameters), bucketed to 0.05-wide e4 cells, and a cumulative
    * window over the BOUNDED bucket table (the q322 shape — curve rows
    * = distinct buckets, never pairs) yields, per candidate threshold
    * t: pairs scoring ≥ t and the EXACT count of docs dedup would
    * touch at t (a doc is clustered at t iff its best pair ≥ t — the
    * per-doc max-bucket census, no CC needed). Read left to right the
    * curve is the "how much corpus does each notch of aggressiveness
    * consume" decision table. On this synthetic corpus the curve is a
    * single ≥0.95 bucket — the honest null reading (seeded near-dups
    * are near-identical and unrelated docs share no 5-gram), and
    * itself the useful verdict: any threshold in [0.1, 0.95] dedups
    * identically here, so 0.5 is safe. A real web corpus fills the
    * mid-buckets and the same curve prices each notch. */
  private def q362(s: SparkSession, dir: String): DataFrame = {
    val (_, _, exact, _, _, _) = corpusStages(s, dir)
    // localCheckpoint (r20, guide §1.2): the bucketed pair table feeds
    // both curve arms (per-bucket pair counts AND the per-doc max-bucket
    // census) — lazily planned, the whole shingle→df-gate→pair-mining
    // chain ran twice. Pair-fan-out-bounded by the df gate, the same
    // checkpoint-safety argument as the memoized q41 graph.
    val pb = graft.operators.DedupPipeline
      .nearDupPairs(exact, "doc_id", "text",
        n = 5, minJaccard = 0.1, maxDf = 1000L)
      .select(col("id_a"), col("id_b"),
        Rounding.intDiv(
          floor(col("jaccard") * lit(10000.0) + lit(0.5)).cast("long"),
          lit(500L)).as("bucket"))
      .transform(checkpoint)
    val pairBuckets = pb.groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val docMax = pb.select(col("id_a").as("doc_id"), col("bucket"))
      .unionAll(pb.select(col("id_b").as("doc_id"), col("bucket")))
      .groupBy("doc_id").agg(max("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs_max"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairBuckets.join(docMax, Seq("bucket"), "left")
      .withColumn("n_docs_max", coalesce(col("n_docs_max"), lit(0L)))
      .withColumn("n_pairs_ge", sum("n_pairs").over(w))
      .withColumn("n_docs_ge", sum("n_docs_max").over(w))
      .select((col("bucket") * lit(500L)).as("threshold_e4"),
        col("n_pairs"), col("n_pairs_ge"), col("n_docs_ge"))
      .orderBy("threshold_e4")
  }

  /** Trained-tokenizer fertility census — the number a tokenizer budget
    * is actually set by: train THREE real BPE merges with
    * [[graft.operators.BpeTrainer]] (the full Sennrich loop — q359
    * censuses round-1 candidates, this runs the loop), then per
    * language: word/piece/char totals and the exact e4 pieces-per-word
    * and chars-per-piece ratios under the trained segmentation. The
    * chosen merge sequence rides along as a column, so the oracle —
    * which replays all three rounds as unrolled CTEs with a
    * `list_reduce` greedy fold — hash-pins the TRAINING DECISIONS, not
    * just the census. (The fold uses the lookbehind formulation: merge
    * when the last emitted symbol is `a` and the next is `b`; provably
    * equal to the skip-scan because a merged symbol `a||b` can never
    * equal `a` — `b` is nonempty — so no double-consumption exists.)
    * Scale: training works the vocab-scale word-frequency table
    * (BpeTrainer's contract); the census is one explode + one
    * vocab-keyed join + a bounded-lang aggregation. */
  /** Per-(session, dir) memo of the 3-round trained tokenizer — the
    * training loop runs Spark jobs at query-construction time (the
    * KMeans/corpusComponents pattern), so without the memo every plan
    * gate, verify and bench pass would retrain; an evicted words
    * checkpoint is freed by ContextCleaner once unreachable. */
  private val bpeMemo = new graft.operators.SessionDirMemo[
    (DataFrame, Seq[graft.operators.BpeTrainer.Merge])]

  private def q370(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrainer
    import Rounding.intDivExact
    val (words, merges) = bpeMemo.get(s, dir) {
      // train() already localCheckpoints the final round — an
      // already-materialized frame, the memo contract. batch = 8 takes
      // the batched selection path (one census + one rewrite per round
      // of non-interacting merges) — merge-for-merge identical to
      // sequential by BpeTrainerSpec's equivalence pins, so the oracle's
      // unrolled 3-round replay still hash-matches
      BpeTrainer.train(Tables.load(s, dir, "documents"), "text", 3,
        batch = 8)
    }
    // the oracle replays exactly three unrolled rounds — a corpus that
    // runs dry earlier would silently hash-diverge (empty oracle vs a
    // shorter Spark merge list), so make the contract breach LOUD
    require(merges.length == 3,
      s"q370 expects 3 BPE merges, corpus ran dry at ${merges.length}")
    val mergeStr = merges.map(m => m.a + "+" + m.b).mkString(",")
    Tables.load(s, dir, "documents")
      .select(col("lang"),
        explode(TextAnalysis.tokensCol(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(words.select(col("word"),
        size(col("symbols")).cast("long").as("n_sym")), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sym").as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        intDivExact(col("n_pieces").cast("decimal(38,0)") * lit(10000L),
          col("n_words")).as("pieces_per_word_e4"),
        intDivExact(col("n_chars").cast("decimal(38,0)") * lit(10000L),
          col("n_pieces")).as("chars_per_piece_e4"),
        lit(mergeStr).as("merges"))
      .orderBy("lang")
  }

  /** Policy-mix utilization audit — the operator-facing readout of the
    * r17 policy→build wiring (the row an operator reads to see WHAT the
    * certified quota did to the shipped corpus): per source, the
    * verdict-selected tier/mult/quota, the cap the mix applied
    * (⌊t_total·quota_s/10⁸⌋), what the clean stage had available, what
    * shipped, whether the cap was BINDING (cap < available — the
    * water-fill actually trimmed), and exact e4 utilization
    * shipped/cap (straddler convention can push it past 10⁴ — that is
    * the kept-straddler, not an error; NULL when the cap is 0). A
    * source whose quota is zero (nothing scored → mult 0) shows
    * shipped 0 here — the silent-drop channel made visible. Scale:
    * three bounded per-source aggregates off the memoized build stages
    * plus the 1-row total broadcast; the quota side is the bounded
    * source set. */
  private def q377(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, clean, mixed) = corpusStages(s, dir)
    mixAuditTable(clean, mixed,
      QualityModelQueries.policyQuotaFull(s, dir))
  }

  /** q377's audit arithmetic over explicit (clean, mixed, quota) frames
    * — split out (the policyQuotaTable/mixStage discipline) so the
    * streaming twin can re-derive the audit per micro-batch from its
    * maintained states and stay expression-identical to the declared
    * query.
    * @param clean the mix stage's input survivors (needs source,
    *        n_tokens)
    * @param mixed the water-fill survivors (same columns)
    * @param quota the policy-applied quota table —
    *        [[QualityModelQueries.policyQuotaFull]]'s shape (source,
    *        policy, tier, mult, quota_tokens; quota nulls closed
    *        here). */
  private[graft] def mixAuditTable(clean: DataFrame, mixed: DataFrame,
      quota: DataFrame): DataFrame = {
    import Rounding.intDivExact
    val quotaCols = quota
      .select(col("source"), col("policy"), col("tier"), col("mult"),
        coalesce(col("quota_tokens"), lit(0L)).as("quota_tokens"))
    val avail = clean.groupBy("source")
      .agg(count(lit(1)).as("n_docs_avail"),
        sum("n_tokens").as("n_tokens_avail"))
    val shipped = mixed.groupBy("source")
      .agg(count(lit(1)).as("n_docs_shipped"),
        sum("n_tokens").as("n_tokens_shipped"))
    val tot = clean.agg(sum("n_tokens").as("t_total"))
    quotaCols
      .join(avail, Seq("source"), "left")
      .join(shipped, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("n_docs_avail", coalesce(col("n_docs_avail"), lit(0L)))
      .withColumn("n_tokens_avail",
        coalesce(col("n_tokens_avail"), lit(0L)))
      .withColumn("n_docs_shipped",
        coalesce(col("n_docs_shipped"), lit(0L)))
      .withColumn("n_tokens_shipped",
        coalesce(col("n_tokens_shipped"), lit(0L)))
      .withColumn("cap_tokens", intDivExact(
        col("quota_tokens").cast("decimal(38,0)") * col("t_total"),
        lit(100000000L)))
      .withColumn("cap_binding",
        (col("cap_tokens") < col("n_tokens_avail")).cast("long"))
      .withColumn("util_e4", when(col("cap_tokens") > 0L, intDivExact(
        col("n_tokens_shipped").cast("decimal(38,0)") * lit(10000L),
        col("cap_tokens"))))
      .select(col("source"), col("policy"), col("tier"), col("mult"),
        col("quota_tokens"), col("cap_tokens"), col("n_docs_avail"),
        col("n_tokens_avail"), col("n_docs_shipped"),
        col("n_tokens_shipped"), col("cap_binding"), col("util_e4"))
      .orderBy("source")
  }

  val defs: Map[String, Q] = Map(
    "q377_policy_mix_audit" -> (q377 _),
    "q353_corpus_build" -> (q353 _),
    "q359_bpe_merges" -> (q359 _),
    "q370_bpe_fertility" -> (q370 _),
    "q360_token_lookup" -> (q360 _),
    "q361_keeper_policy" -> (q361 _),
    "q362_dedup_sweep" -> (q362 _),
    "q357_release_audit" -> (q357 _),
    "q354_corpus_attrition" -> (q354 _),
    "q355_pack_sweep" -> (q355 _),
    "q356_vocab_richness" -> (q356 _),
    "q234_quantile_norm" -> (q234 _),
    "q235_source_sample" -> (q235 _),
    "q236_ks_drift" -> (q236 _),
    "q240_ks_matrix" -> (q240 _),
    "q254_hamilton_alloc" -> (q254 _),
    "q274_wasserstein" -> (q274 _),
    "q225_source_concentration" -> (q225 _),
    "q218_contamination_score" -> (q218 _),
    "q216_exact_kfold" -> (q216 _),
    "q212_dsir_resample" -> (q212 _),
    "q196_ccnet_buckets" -> (q196 _),
    "q199_quality_sweep" -> (q199 _),
    "q200_corpus_shuffle" -> (q200 _),
    "q148_domain_cap" -> (q148 _),
    "q159_boilerplate_prefix" -> (q159 _),
    "q79_bigram_counts" -> (q79 _),
    "q80_mask_digits" -> (q80 _),
    "q81_quartile_census" -> (q81 _),
    "q82_group_corr" -> (q82 _),
    "q83_heavy_hitters" -> (q83 _),
    "q84_decontaminate" -> (q84 _),
    "q86_repetition_filter" -> (q86 _),
    "q87_skew_report" -> (q87 _),
    "q92_balance_sources" -> (q92 _),
    "q94_profile" -> (q94 _),
    "q95_incremental_agg" -> (q95 _),
    "q98_lm_doc_score" -> (q98 _),
    "q99_split_assign" -> (q99 _),
    "q101_histogram" -> (q101 _),
    "q132_token_budget" -> (q132 _),
    "q139_temperature_mix" -> (q139 _),
    "q297_waterfill_budget" -> (q297 _),
    "q319_compression_ratio" -> (q319 _),
    "q334_ns_weights" -> (q334 _))

  /** word2vec-style negative-sampling table — the f^0.75 unigram
    * flattening every embedding trainer bakes in, de-floated the one way
    * a cross-engine exact contract allows: x^0.75 = √(x·√x), a chain of
    * IEEE-correctly-rounded primitives (sqrt and multiply are exact-
    * rounding obligations in both engines; pow(x, 0.75) is NOT — libm
    * pow carries no such guarantee), so w_e6 = ⌊√(f·√f)·10⁶ + 0.5⌋ is
    * bit-agreed. A 10⁶-draw sampling table is then allocated by largest
    * remainder over w_e6 (q254's Hamilton machinery pointed at
    * fractional-power weights): Σ alloc = 10⁶ exactly, ties on equal
    * remainders to the lexicographically smaller token. The ranking
    * window runs over the VOCABULARY table (bounded by distinct tokens,
    * not corpus rows — the q254 argument). */
  private def q334(s: SparkSession, dir: String): DataFrame = {
    import Rounding.{intDiv, intDivExact}
    val draws = 1000000L
    val f = Tables.load(s, dir, "documents")
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .withColumn("w_e6",
        floor(sqrt(col("f").cast("double") * sqrt(col("f").cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = f.agg(sum("w_e6").as("w_total"))
    val based = f.crossJoin(broadcast(tot))
      .withColumn("floor_alloc",
        intDivExact(col("w_e6").cast("decimal(38,0)") * draws,
          col("w_total")))
      .withColumn("rem",
        (col("w_e6").cast("decimal(38,0)") * draws % col("w_total"))
          .cast("decimal(38,0)"))
    val ranked = based
      .withColumn("fa", sum("floor_alloc").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("tok"))).cast("long"))
    ranked.select(col("tok"), col("f"), col("w_e6"),
        (col("floor_alloc") +
          when(col("rk") <= lit(draws) - col("fa"), 1L).otherwise(0L))
          .cast("long").as("alloc"))
      .orderBy("tok")
  }

  /** Compression-redundancy quality signal — the Gopher/CCNet-family
    * heuristic no regex can fake: highly repetitive or templated text
    * compresses far below natural prose. Split into two arms so the
    * driver gate stays honest (round-11 verdict item 1):
    *
    *  - the ORACLE-CHECKABLE core ([[q319]]): per-doc UTF-8 byte length
    *    plus the distinct-8-gram ratio — the exact substring-entropy
    *    signal deflate's LZ77 window proxies (a repeated phrase is a
    *    repeated 8-gram long before it is a back-reference). Pure
    *    per-row expressions (no shuffle, working set bounded by doc
    *    length — the same posture as the codec arm), replayable
    *    bit-for-bit in DuckDB via a list comprehension.
    *  - the JVM-SPECIFIC deflate arm ([[deflateRatios]]): one
    *    java.util.zip Deflater per PARTITION (end()'d when the
    *    partition drains — zlib state is native memory the heap never
    *    accounts for), reset per row, level 6. zlib byte counts cannot
    *    be replayed in DuckDB SQL, so this arm is spec-pinned instead:
    *    RoundElevenPropertySpec pins sanity bounds, exact helper parity
    *    ([[deflateRatioE4]]), and rank agreement between the deflate
    *    ratio and the 8-gram redundancy core on fixture extremes. */
  private[graft] def deflateStats(text: String,
      d: java.util.zip.Deflater, buf: Array[Byte]): (Long, Long) = {
    val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    d.reset(); d.setInput(in); d.finish()
    var n = 0L
    while (!d.finished()) n += d.deflate(buf)
    (in.length.toLong, n)
  }

  /** Single-shot form for tests: the exact ratio the query emits. */
  private[graft] def deflateRatioE4(text: String): Long = {
    val d = new java.util.zip.Deflater(6)
    try {
      val (o, c) = deflateStats(text, d, new Array[Byte](1 << 16))
      require(o > 0, "empty text has no ratio")
      (c * 20000L + o) / (2L * o)
    } finally d.end()
  }

  private def q319(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        octet_length(col("text")).cast("long").as("orig_bytes"),
        greatest(length(col("text")) - 7, lit(0)).cast("long")
          .as("n_8grams"),
        col("text"))
      .withColumn("distinct_8grams",
        when(col("n_8grams") === 0L, lit(0L)).otherwise(
          size(array_distinct(expr(
            "transform(sequence(1, int(n_8grams)), i -> substring(text, i, 8))")))
            .cast("long")))
      // round-half-up e4 fixed point, the repo-wide (2n+d)/(2d) convention;
      // a doc with no 8-grams has no ratio (NULL, never divide-by-zero)
      .withColumn("redundancy_e4",
        when(col("n_8grams") === 0L, lit(null).cast("long")).otherwise(
          expr("(distinct_8grams * 20000L + n_8grams) div (2L * n_8grams)")))
      .select("doc_id", "source", "orig_bytes", "n_8grams",
        "distinct_8grams", "redundancy_e4")
      .orderBy("doc_id")

  /** The deflate arm (spec-facing, not driver-registered): exact per-doc
    * zlib byte counts and the e4 ratio. Deterministic for a fixed zlib
    * implementation; pinned in RoundElevenPropertySpec. */
  private[graft] def deflateRatios(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val buf = new Array[Byte](1 << 16)
        val d = new java.util.zip.Deflater(6)
        var ended = false
        new Iterator[(Long, String, Long, Long, Option[Long])] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !ended) { d.end(); ended = true }
            h
          }
          def next(): (Long, String, Long, Long, Option[Long]) = {
            val (id, src, text) = it.next()
            val (orig, comp) = deflateStats(text, d, buf)
            (id, src, orig, comp,
              if (orig > 0) Some((comp * 20000L + orig) / (2L * orig))
              else None)
          }
        }
      }
      .toDF("doc_id", "source", "orig_bytes", "deflate_bytes", "ratio_e4")
      .orderBy("doc_id")
  }

  /** Max-min fair (water-filling) token-budget allocation across
    * sources — the OTHER standard mixture recipe next to q139's
    * temperature sampling: given a global token budget B (here ⌊total/2⌋),
    * find the level L such that Σ min(nᵢ, L) = B; sources below L keep
    * everything (saturated), sources above are capped at the common
    * level — no source can gain without a smaller one losing, the
    * max-min optimum. Exact and closed-form: sort sources by
    * (n_tokens, source), prefix-sum P, and the pivot i* is the smallest
    * rank where P_{i−1} + nᵢ·(N−i+1) ≥ B (capping everyone from i at nᵢ
    * already overshoots); L = ⌊(B − P_{i*−1})/(N−i*+1)⌋ with the
    * remainder distributed one token each to the LARGEST (N−i*+1)-tail
    * sources in sort order — Σ alloc = B exactly, provably (the floor
    * loses rmd < N−i*+1 tokens, each +1 stays ≤ nⱼ because rmd > 0
    * forces L < n_{i*}). Every float is absent; every window is over
    * the per-source table (bounded by the source dimension — the
    * q216/q236 bounded-window argument). */
  private def q297(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val t = Tables.load(s, dir, "documents")
      .groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
    val ord = Window.orderBy(col("n_tokens"), col("source"))
    val ranked = t
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("pfx", sum("n_tokens").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = t.agg(count(lit(1)).as("ns"), sum("n_tokens").as("ttl"))
    val wr = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", intDivExact(col("ttl"), lit(2L)))
      .withColumn("base", col("pfx") - col("n_tokens"))
      .withColumn("rem_src", col("ns") - col("rn") + lit(1L))
    val istar = wr
      .filter(col("base") +
        col("n_tokens").cast("decimal(38,0)") * col("rem_src") >=
        col("budget"))
      .agg(min(struct(col("rn"), col("base"), col("rem_src"))).as("m"))
      .select(col("m.rn").as("i_star"), col("m.base").as("b0"),
        col("m.rem_src").as("r0"))
    wr.crossJoin(broadcast(istar))
      .withColumn("level", intDivExact(col("budget") - col("b0"), col("r0")))
      .withColumn("rmd",
        col("budget") - col("b0") - col("level") * col("r0"))
      .withColumn("alloc_tokens",
        when(col("rn") < col("i_star"), col("n_tokens"))
          .otherwise(col("level") +
            when(col("rn") > col("ns") - col("rmd"), lit(1L))
              .otherwise(lit(0L))))
      .select(col("source"), col("n_tokens"), col("alloc_tokens"),
        (col("rn") < col("i_star")).cast("long").as("saturated"),
        col("level"))
      .orderBy("source")
  }

  /** Temperature-weighted source mixing (τ = 0.5): each source's sampling
    * weight is |tokens|^τ, which up-weights small sources relative to
    * proportional sampling — the standard recipe for balancing a
    * multi-source/multilingual training mixture. The float channel is
    * closed the q96 way: τ = 0.5 makes the weight an IEEE sqrt
    * (correctly rounded, bit-identical everywhere), each weight lands on
    * an integer 1e-6 grid BEFORE the cross-source sum, and the final
    * allocation of the 10 000-document budget is a portable EXACT
    * decimal integer division (intDivExact — no 2^53 double ceiling,
    * so token-scaled products cannot ulp-diverge) — no engine ever
    * sums raw doubles. One aggregation
    * over the corpus; everything after is O(sources) on the driver-free
    * broadcast path. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val t = Tables.load(s, dir, "documents")
      .groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
    val w = t.withColumn("w_e6",
      floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0) +
        lit(0.5)).cast("long"))
    val tot = w.agg(sum(col("w_e6").cast("decimal(38,0)")).cast("long")
      .as("sw"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("w_e6"),
        intDivExact(lit(10000L) * col("w_e6"), col("sw")).as("alloc_docs"))
      .orderBy("source")
  }

  /** Token-budget curation: each source's documents, ranked best-first
    * (longest, doc_id tiebreak — stand-in for a quality score), greedily
    * fill a fixed 800-token budget; the kept set is the ranked prefix
    * whose running token sum stays inside the budget. This is the
    * final assembly step of a training-data mixture — "give me the best
    * N tokens per source" — and it is ONE window pass per source
    * (running sum over the ranked order), not an iterative driver loop:
    * the budget predicate on the cumulative sum IS the greedy
    * algorithm. Integer token counts, integer sums — nothing to
    * diverge. At 100 TB the window is per-source (keyed shuffle);
    * a skewed mega-source pays one partition's sort, and the budget
    * makes the KEPT set tiny regardless of input size. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= 800L)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .orderBy("source", "doc_id")
  }

  /** Oracle CTE chain ending in `q(doc_id, source, q_e4)` — the q31
    * composite quality on the e4 grid (proven engine-identical by q31's
    * own oracle), shared by q196 and q199 (no leading WITH; a def for
    * object-init-order safety). */
  private def qualityCtes: String =
    """f AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is|it)\b')) AS DOUBLE) AS stops,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS toks,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
      |    CAST(length(text) AS DOUBLE) AS chars
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source,
      |    CAST(floor((0.4 * (stops / greatest(toks, 1)) +
      |                0.3 * (alpha / greatest(chars, 1)) +
      |                0.3 * least(1.0, toks / 100.0)) * 10000.0 + 0.5)
      |      AS BIGINT) AS q_e4
      |  FROM f)""".stripMargin

  /** Shared DuckDB CTE chain for the composed corpus build (stages 1–5,
    * `q` → `mixed`) — consumed by the q353 manifest, the q354 funnel,
    * and the q355 pack sweep, each with its own final SELECT. One text,
    * three hashes: a drift in any stage breaks all three oracles at
    * once. Callers prepend `WITH RECURSIVE` (the reach CTE). The chain
    * is PREFIXED by [[QualityModelQueries.policyQuotaCtes]] (the NB
    * verdict → tier → quota replay) because the mix stage's per-source
    * cap reads `pquota` — the oracle replays verdict → quota → mix
    * end-to-end (r16 verdict item 1); consumers that stop before
    * `mixed` (q361/q362) never reference it and DuckDB prunes the
    * unused CTEs. */
  private[queries] lazy val corpusCtes: String = {
    import Rounding.intDivExactSql
    // stage-salted: the mix fill order must be independent of the split
    // hash (see mixStage — the q357 audit caught the unsalted form)
    val u32 = graft.functions.Hashing
      .md5U32Sql("'mix:' || CAST(doc_id AS VARCHAR)")
    s"""${QualityModelQueries.policyQuotaCtes},
       |q AS (
       |  SELECT doc_id, text, lang, source FROM documents
       |  WHERE length(text) >= 100 AND lang IN ('en','de','fr','es')),
       |f AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM q),
       |ex AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS m FROM f)
       |  WHERE doc_id = m),
       |base AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+')
       |    AS t
       |  FROM base),
       |idx AS (
       |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
       |  FROM toks WHERE len(t) >= 5),
       |grams AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
       |  FROM idx),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |keep AS (SELECT gram FROM grams GROUP BY gram
       |         HAVING count(*) BETWEEN 2 AND 1000),
       |gf AS (SELECT g.doc_id, g.gram FROM grams g JOIN keep USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM gf a JOIN gf b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE floor((inter / (sa.sz + sb.sz - inter)) * 10000.0 + 0.5)
       |      / 10000.0 >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
       |          UNION ALL
       |          SELECT doc_b AS src, doc_a AS dst FROM jp),
       |reach(id, comp) AS (
       |  SELECT doc_id, doc_id FROM base
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
       |cl AS (SELECT id AS doc_id, min(comp) AS comp FROM reach
       |       GROUP BY id),
       |nd AS (SELECT b.* FROM base b JOIN cl USING (doc_id)
       |       WHERE cl.comp = b.doc_id),
       |btoks AS (
       |  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents WHERE doc_id % 97 = 0),
       |bench AS (
       |  SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS gram
       |  FROM btoks, unnest(generate_series(1, len(t) - 3)) AS s(i)
       |  WHERE len(t) >= 4),
       |g4 AS (
       |  SELECT DISTINCT k.doc_id, array_to_string(t[i:i+3], ' ') AS gram
       |  FROM toks k JOIN nd USING (doc_id),
       |    unnest(generate_series(1, len(t) - 3)) AS s(i)
       |  WHERE len(t) >= 4),
       |contam AS (SELECT DISTINCT doc_id FROM g4 JOIN bench USING (gram)),
       |clean AS (
       |  SELECT nd.doc_id, nd.source, CAST(len(t) AS BIGINT) AS n_tokens
       |  FROM nd JOIN toks USING (doc_id)
       |  WHERE nd.doc_id % 97 <> 0
       |    AND nd.doc_id NOT IN (SELECT doc_id FROM contam)),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total
       |        FROM clean),
       |ranked AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY $u32, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM clean),
       |caps AS (
       |  SELECT source, CAST(coalesce(quota_tokens, 0) AS BIGINT)
       |    AS cap_quota
       |  FROM pquota),
       |mixed AS (
       |  SELECT r.* FROM ranked r JOIN caps USING (source), tot
       |  WHERE cum - n_tokens <
       |    ${intDivExactSql("CAST(cap_quota AS HUGEINT) * t_total",
                             "100000000")})"""
      .stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the corpus chain's own pquota/clean/tot/mixed CTEs re-aggregated
    // per source — cap, availability, shipped, binding, exact util
    "q377_policy_mix_audit" -> {
      import Rounding.intDivExactSql
      val cap = intDivExactSql(
        "CAST(quota_tokens AS HUGEINT) * t_total", "100000000")
      val util = intDivExactSql(
        "CAST(n_tokens_shipped AS HUGEINT) * 10000", "cap_tokens")
      s"""WITH RECURSIVE
         |$corpusCtes,
         |av AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_avail,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens_avail
         |  FROM clean GROUP BY source),
         |sh AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_shipped,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens_shipped
         |  FROM mixed GROUP BY source),
         |aq AS (
         |  SELECT source, policy, tier, mult,
         |    CAST(coalesce(quota_tokens, 0) AS BIGINT) AS quota_tokens
         |  FROM pquota),
         |cp AS (
         |  SELECT aq.source, policy, tier, mult, quota_tokens,
         |    CAST($cap AS BIGINT) AS cap_tokens,
         |    CAST(coalesce(n_docs_avail, 0) AS BIGINT) AS n_docs_avail,
         |    CAST(coalesce(n_tokens_avail, 0) AS BIGINT)
         |      AS n_tokens_avail,
         |    CAST(coalesce(n_docs_shipped, 0) AS BIGINT)
         |      AS n_docs_shipped,
         |    CAST(coalesce(n_tokens_shipped, 0) AS BIGINT)
         |      AS n_tokens_shipped
         |  FROM aq LEFT JOIN av ON aq.source = av.source
         |          LEFT JOIN sh ON aq.source = sh.source, tot)
         |SELECT source, policy, tier, mult, quota_tokens, cap_tokens,
         |  n_docs_avail, n_tokens_avail, n_docs_shipped,
         |  n_tokens_shipped,
         |  CAST(cap_tokens < n_tokens_avail AS BIGINT) AS cap_binding,
         |  CASE WHEN cap_tokens > 0 THEN $util ELSE NULL END AS util_e4
         |FROM cp ORDER BY source""".stripMargin
    },
    // same md5 uniform, same (u, doc_id) order — the draw is a shared
    // deterministic function, not a mirrored RNG
    // the full composed corpus build — every stage CTE mirrors one
    // already-proven oracle shape (q40 fingerprint window, q67 recursive
    // CC, q84 bench grams, q99 split, q77 cumulative packing); what is
    // NEW here is that each stage reads the previous stage's survivors,
    // so the composition order itself is under the hash
    "q353_corpus_build" -> {
      val u32 = graft.functions.Hashing.md5U32Sql("CAST(doc_id AS VARCHAR)")
      val uni = graft.functions.Hashing
        .md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE
         |$corpusCtes,
         |sp AS (
         |  SELECT doc_id, n_tokens,
         |    CASE WHEN $uni < 0.8 THEN 'train'
         |         WHEN $uni < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM mixed),
         |pk AS (
         |  SELECT doc_id, n_tokens, split,
         |    CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split
         |        ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS BIGINT) - n_tokens) / 512.0) AS BIGINT) AS pack_id
         |  FROM sp)
         |SELECT split, pack_id % 4 AS shard,
         |  count(*) AS n_docs,
         |  CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum($u32) AS BIGINT) AS id_checksum
         |FROM pk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // the release gate re-derives every guarantee from the mixed
    // survivors (fingerprints, pair mining, contamination, split
    // fraction) — same corpusCtes chain, then fresh measurement CTEs
    // over `mixed` rather than references to the build's own stages
    "q357_release_audit" -> {
      import Rounding.intDivSql
      val uni = graft.functions.Hashing
        .md5UniformSql("CAST(doc_id AS VARCHAR)")
      def row(name: String, obs: String, lo: Long, hi: Long) =
        s"""SELECT '$name' AS "check", observed,
           |  CAST($lo AS BIGINT) AS bound_lo,
           |  CAST($hi AS BIGINT) AS bound_hi,
           |  CAST(observed >= $lo AND observed <= $hi AS BIGINT) AS pass
           |FROM (SELECT $obs AS observed FROM __SRC__)"""
          .stripMargin
      s"""WITH RECURSIVE
         |$corpusCtes,
         |mt AS (
         |  SELECT m.doc_id, d.text FROM mixed m
         |  JOIN documents d USING (doc_id)),
         |mfp AS (
         |  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |    AS fp
         |  FROM mt),
         |c1 AS (SELECT fp, count(*) AS c FROM mfp GROUP BY 1),
         |t2 AS (
         |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+')
         |    AS t
         |  FROM mt),
         |i2 AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
         |  FROM t2 WHERE len(t) >= 5),
         |g2 AS (
         |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
         |  FROM i2),
         |s2 AS (SELECT doc_id, count(*) AS sz FROM g2 GROUP BY 1),
         |k2 AS (SELECT gram FROM g2 GROUP BY gram
         |       HAVING count(*) BETWEEN 2 AND 1000),
         |gf2 AS (SELECT g.doc_id, g.gram FROM g2 g JOIN k2 USING (gram)),
         |p2 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM gf2 a JOIN gf2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp2 AS (
         |  SELECT doc_a FROM p2
         |  JOIN s2 sa ON doc_a = sa.doc_id
         |  JOIN s2 sb ON doc_b = sb.doc_id
         |  WHERE floor((inter / (sa.sz + sb.sz - inter)) * 10000.0 + 0.5)
         |      / 10000.0 >= 0.5),
         |g43 AS (
         |  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS gram
         |  FROM t2, unnest(generate_series(1, len(t) - 3)) AS s(i)
         |  WHERE len(t) >= 4),
         |cont AS (SELECT DISTINCT doc_id FROM g43 JOIN bench USING (gram)),
         |sp5 AS (
         |  SELECT CASE WHEN $uni < 0.8 THEN 'train'
         |              WHEN $uni < 0.9 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM mixed)
         |SELECT * FROM (
         |${row("1_exact_dup_docs",
            "coalesce(CAST(sum(CASE WHEN c > 1 THEN c END) AS BIGINT), 0)",
            0L, 0L).replace("__SRC__", "c1")}
         |UNION ALL
         |${row("2_near_pairs_at_0_5", "count(*)", 0L, 0L)
            .replace("__SRC__", "jp2")}
         |UNION ALL
         |${row("3_contaminated_docs", "count(*)", 0L, 0L)
            .replace("__SRC__", "cont")}
         |UNION ALL
         |${row("4_benchmark_members", "count(*)", 0L, 0L)
            .replace("__SRC__", "(SELECT * FROM mixed WHERE doc_id % 97 = 0)")}
         |UNION ALL
         |${row("5_train_frac_e4",
            intDivSql(
              "sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) * 10000",
              "count(*)"),
            7000L, 9000L).replace("__SRC__", "sp5")})
         |ORDER BY "check"""".stripMargin
    },
    "q354_corpus_attrition" -> {
      val tl = "len(regexp_split_to_array(lower(trim(text)), '\\s+'))"
      s"""WITH RECURSIVE
         |$corpusCtes
         |SELECT * FROM (
         |  SELECT '1_input' AS stage, count(*) AS n_docs,
         |    CAST(coalesce(sum($tl), 0) AS BIGINT) AS n_tokens
         |  FROM documents
         |  UNION ALL
         |  SELECT '2_quality', count(*),
         |    CAST(coalesce(sum($tl), 0) AS BIGINT) FROM q
         |  UNION ALL
         |  SELECT '3_exact_dedup', count(*),
         |    CAST(coalesce(sum(len(t)), 0) AS BIGINT)
         |  FROM base JOIN toks USING (doc_id)
         |  UNION ALL
         |  SELECT '4_near_dedup', count(*),
         |    CAST(coalesce(sum(len(t)), 0) AS BIGINT)
         |  FROM nd JOIN toks USING (doc_id)
         |  UNION ALL
         |  SELECT '5_decontaminated', count(*),
         |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM clean
         |  UNION ALL
         |  SELECT '6_mixed', count(*),
         |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM mixed)
         |ORDER BY stage""".stripMargin
    },
    "q355_pack_sweep" -> {
      import Rounding.intDivExactSql
      val uni = graft.functions.Hashing
        .md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE
         |$corpusCtes,
         |sp AS (
         |  SELECT doc_id, n_tokens,
         |    CASE WHEN $uni < 0.8 THEN 'train'
         |         WHEN $uni < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM mixed),
         |budgets AS (SELECT unnest([256, 512, 1024]) AS budget),
         |pk AS (
         |  SELECT budget, split, n_tokens,
         |    CAST(floor((CAST(sum(n_tokens) OVER (
         |        PARTITION BY budget, split ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS BIGINT) - n_tokens) / CAST(budget AS DOUBLE))
         |      AS BIGINT) AS pack_id
         |  FROM sp, budgets),
         |g AS (
         |  SELECT CAST(budget AS BIGINT) AS budget, split,
         |    count(*) AS n_docs,
         |    CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum(CAST(n_tokens > budget AS INT)) AS BIGINT)
         |      AS n_oversize
         |  FROM pk GROUP BY 1, 2)
         |SELECT budget, split, n_docs, n_packs, n_tokens, n_oversize,
         |  ${intDivExactSql("CAST(n_tokens AS HUGEINT) * 10000",
            "CAST(n_packs AS HUGEINT) * budget")} AS fill_e4
         |FROM g ORDER BY budget, split""".stripMargin
    },
    // same df-gated pair CTEs (inter from gated grams, FULL sizes);
    // e4 jaccard floors identically from the same IEEE division
    "q362_dedup_sweep" ->
      s"""WITH RECURSIVE
         |$corpusCtes,
         |jj AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(floor((inter / (sa.sz + sb.sz - inter)) * 10000 + 0.5)
         |      AS BIGINT) AS j_e4
         |  FROM pairs p
         |  JOIN sizes sa ON p.doc_a = sa.doc_id
         |  JOIN sizes sb ON p.doc_b = sb.doc_id),
         |jb AS (SELECT doc_a, doc_b, j_e4 // 500 AS bucket
         |       FROM jj WHERE j_e4 >= 1000),
         |pbk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM jb GROUP BY 1),
         |dmx AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs_max FROM (
         |    SELECT doc_id, max(bucket) AS bucket FROM (
         |      SELECT doc_a AS doc_id, bucket FROM jb
         |      UNION ALL SELECT doc_b, bucket FROM jb)
         |    GROUP BY doc_id) GROUP BY bucket)
         |SELECT bucket * 500 AS threshold_e4, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS n_pairs_ge,
         |  CAST(sum(coalesce(n_docs_max, 0)) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS n_docs_ge
         |FROM pbk LEFT JOIN dmx USING (bucket)
         |ORDER BY threshold_e4""".stripMargin,
    // same integer-packed keeper selection over the recursive-CC `cl`
    // map; HUGEINT mirrors decimal(38,0), `//` mirrors intDivExact
    // (both truncate toward zero; operands nonnegative here)
    "q361_keeper_policy" ->
      s"""WITH RECURSIVE
         |$corpusCtes,
         |tokc AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS tok FROM toks),
         |mm AS (
         |  SELECT cl.comp, cl.doc_id AS id, tok
         |  FROM cl JOIN tokc USING (doc_id)),
         |cs AS (
         |  SELECT comp, CAST(count(*) AS BIGINT) AS n_docs,
         |    min(CAST(id AS HUGEINT) * 1000000000000 + tok) AS p_min,
         |    min(CAST(id AS HUGEINT) -
         |        CAST(tok AS HUGEINT) * 1000000000000) AS p_max
         |  FROM mm GROUP BY comp HAVING count(*) >= 2)
         |SELECT 'min_id' AS policy, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(p_min % 1000000000000), 0) AS BIGINT)
         |    AS kept_tokens
         |FROM cs
         |UNION ALL
         |SELECT 'max_tokens', CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(n_docs), 0) AS BIGINT),
         |  CAST(coalesce(sum((1000000000000 - 1 - p_max) //
         |    1000000000000), 0) AS BIGINT)
         |FROM cs
         |ORDER BY policy""".stripMargin,
    // same split/pack arithmetic as q353's oracle; probes via the same
    // trunc division (both engines' // and intDiv truncate toward zero,
    // positive operands here)
    "q360_token_lookup" -> {
      val uni = graft.functions.Hashing
        .md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE
         |$corpusCtes,
         |sp AS (
         |  SELECT doc_id, n_tokens,
         |    CASE WHEN $uni < 0.8 THEN 'train'
         |         WHEN $uni < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM mixed),
         |iv AS (
         |  SELECT split, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM sp),
         |iv2 AS (SELECT split, doc_id, cum - n_tokens AS lo, cum AS hi
         |        FROM iv),
         |sptot AS (SELECT split, max(hi) AS t_split FROM iv2
         |          GROUP BY 1),
         |probes AS (
         |  SELECT split, CAST((t_split * k) // 8 AS BIGINT) AS t_offset
         |  FROM sptot, unnest([1, 3, 5, 7]) AS s(k))
         |SELECT i.split, p.t_offset, i.doc_id,
         |  CAST(floor(i.lo / 512.0) AS BIGINT) AS pack_id,
         |  p.t_offset - i.lo AS off_in_doc
         |FROM iv2 i JOIN probes p
         |  ON i.split = p.split AND p.t_offset >= i.lo
         |  AND p.t_offset < i.hi
         |ORDER BY 1, 2""".stripMargin
    },
    // three unrolled training rounds: pair census → (cnt desc, a, b)
    // argmax → list_reduce greedy fold over a chr(31)-joined accumulator
    // (look-at-last-segment form — provably ≡ the Spark skip-scan: a
    // merged symbol a||b never equals a, so a fresh merge can't re-match).
    // Replacing the last segment pa with pa||pb IS appending pb, so the
    // fold is pure string slicing — no regexp_replace, whose rewrite
    // string would re-interpret a backslash in a corpus token as RE2
    // group-ref syntax (ADVICE r14). The chr(31) delimiter assumes
    // 0x1F-free text — the driver corpus is; a corpus that isn't needs a
    // list accumulator instead.
    "q370_bpe_fertility" -> {
      def pairsBest(prev: String, n: Int): String =
        s"""b${n}p AS (
          |  SELECT syms[i] AS a, syms[i + 1] AS b,
          |    CAST(sum(freq) AS BIGINT) AS cnt
          |  FROM $prev, unnest(generate_series(1, len(syms) - 1)) AS t(i)
          |  GROUP BY 1, 2),
          |b$n AS (SELECT a AS pa, b AS pb FROM b${n}p
          |        ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      def mergeRound(prev: String, n: Int): String =
        s"""w$n AS (
          |  SELECT word, freq,
          |    string_split(list_reduce(syms, (acc, x) ->
          |      CASE WHEN string_split(acc, chr(31))[-1] = pa
          |             AND x = pb
          |           THEN acc || pb
          |           ELSE acc || chr(31) || x END), chr(31)) AS syms
          |  FROM $prev, b$n)""".stripMargin
      val fert = Rounding.intDivExactSql(
        "CAST(n_pieces AS HUGEINT) * 10000", "n_words")
      val cpp = Rounding.intDivExactSql(
        "CAST(n_chars AS HUGEINT) * 10000", "n_pieces")
      s"""WITH tk AS (
        |  SELECT lang,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |      AS word
        |  FROM documents),
        |tk2 AS (SELECT * FROM tk WHERE word <> ''),
        |w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    list_filter(regexp_extract_all(word, '.'), x -> x <> '')
        |      AS syms
        |  FROM tk2 GROUP BY word),
        |${pairsBest("w0", 1)},
        |${mergeRound("w0", 1)},
        |${pairsBest("w1", 2)},
        |${mergeRound("w1", 2)},
        |${pairsBest("w2", 3)},
        |${mergeRound("w2", 3)},
        |mstr AS (
        |  SELECT b1.pa || '+' || b1.pb || ',' || b2.pa || '+' || b2.pb
        |    || ',' || b3.pa || '+' || b3.pb AS merges
        |  FROM b1, b2, b3),
        |census AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(n_sym) AS BIGINT) AS n_pieces,
        |    CAST(sum(length(word)) AS BIGINT) AS n_chars
        |  FROM tk2 JOIN (SELECT word, CAST(len(syms) AS BIGINT) AS n_sym
        |                 FROM w3) USING (word)
        |  GROUP BY lang)
        |SELECT lang, n_words, n_pieces, n_chars,
        |  $fert AS pieces_per_word_e4,
        |  $cpp AS chars_per_piece_e4,
        |  merges
        |FROM census, mstr ORDER BY lang""".stripMargin
    },
    // same vocab-first aggregation order; range(1, length) mirrors
    // sequence(1, length-1) (both emit start positions 1..len-1)
    "q359_bpe_merges" ->
      s"""WITH words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest($tokSql) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |pairs AS (
        |  SELECT w, freq,
        |    unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair
        |  FROM words WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_weighted,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_words
        |FROM pairs GROUP BY pair
        |ORDER BY n_weighted DESC, pair LIMIT 20""".stripMargin,
    "q356_vocab_richness" -> {
      import Rounding.intDivExactSql
      s"""WITH c AS (
         |  SELECT lang, tok, count(*) AS c FROM (
         |    SELECT lang, unnest($tokSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |g AS (
         |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*) AS vocab,
         |    CAST(sum(CAST(c = 1 AS INT)) AS BIGINT) AS f1,
         |    CAST(sum(CAST(c = 2 AS INT)) AS BIGINT) AS f2
         |  FROM c GROUP BY 1)
         |SELECT lang, n_tokens, vocab, f1, f2,
         |  vocab * 100 + ${intDivExactSql(
            "CAST(f1 AS HUGEINT) * (f1 - 1) * 100", "(f2 + 1) * 2")}
         |    AS chao1_e2,
         |  ${intDivExactSql("CAST(f1 AS HUGEINT) * 1000000000",
            "n_tokens")} AS unseen_mass_e9
         |FROM g ORDER BY lang""".stripMargin
    },
    "q235_source_sample" -> {
      val u = graft.functions.Hashing.md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY u, doc_id) AS BIGINT) AS sample_rank
        |  FROM (SELECT doc_id, source, $u AS u FROM documents))
        |WHERE sample_rank <= 10
        |ORDER BY source, sample_rank""".stripMargin
    },
    // same floor quotas + largest-remainder top-up; HUGEINT mirrors the
    // decimal(38,0) products
    "q254_hamilton_alloc" -> {
      import Rounding.intDivExactSql
      val fa = intDivExactSql("CAST(tokens AS HUGEINT) * 1000000", "total")
      s"""WITH toks AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM toks),
        |based AS (
        |  SELECT source, tokens,
        |    $fa AS floor_alloc,
        |    CAST(CAST(tokens AS HUGEINT) * 1000000 % total AS BIGINT)
        |      AS rem
        |  FROM toks, tot),
        |r AS (
        |  SELECT *, sum(floor_alloc) OVER () AS fa,
        |    CAST(row_number() OVER (ORDER BY rem DESC, source)
        |      AS BIGINT) AS rk
        |  FROM based)
        |SELECT source, tokens,
        |  CAST(floor_alloc + CASE WHEN rk <= 1000000 - fa
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin
    },
    // shared-support CDF grid, zero-filled, then the len-keyed pair join
    "q240_ks_matrix" -> {
      import Rounding.intDivExactSql
      val ks = intDivExactSql(
        "CAST(max_gap_num AS HUGEINT) * 2000000 + n_a * n_b",
        "2 * n_a * n_b")
      s"""WITH d AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |cells AS (
        |  SELECT source, len, count(*) AS c FROM d GROUP BY 1, 2),
        |support AS (SELECT DISTINCT len FROM cells),
        |tot AS (SELECT source, count(*) AS n FROM d GROUP BY source),
        |grid AS (
        |  SELECT t.source, s.len, t.n, coalesce(c.c, 0) AS c0
        |  FROM support s CROSS JOIN tot t
        |  LEFT JOIN cells c ON c.source = t.source AND c.len = s.len),
        |cum AS (
        |  SELECT source, len, n,
        |    sum(c0) OVER (PARTITION BY source ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM grid),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    a.n AS n_a, b.n AS n_b,
        |    abs(a.cum * b.n - b.cum * a.n) AS gap_num
        |  FROM cum a JOIN cum b ON a.len = b.len
        |  WHERE a.source < b.source),
        |agg AS (
        |  SELECT src_a, src_b, n_a, n_b,
        |    CAST(max(gap_num) AS BIGINT) AS max_gap_num
        |  FROM pairs GROUP BY 1, 2, 3, 4)
        |SELECT src_a, src_b, $ks AS ks_e6
        |FROM agg ORDER BY src_a, src_b""".stripMargin
    },
    // q236's gap walk with cell widths, HUGEINT numerator, one exact
    // rational division
    "q274_wasserstein" -> {
      import Rounding.intDivExactSql
      val w1 = intDivExactSql(
        "CAST(w1_num AS HUGEINT) * 20000 + na * nb", "2 * na * nb")
      s"""WITH d AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |cells AS (
        |  SELECT len,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM d GROUP BY len),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb
        |  FROM d),
        |cum AS (
        |  SELECT len,
        |    sum(ca) OVER (ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |    sum(cb) OVER (ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
        |    lead(len) OVER (ORDER BY len) AS next_len
        |  FROM cells),
        |agg AS (
        |  SELECT na, nb,
        |    CAST(sum(abs(cum_a * nb - cum_b * na) * (next_len - len))
        |      AS BIGINT) AS w1_num
        |  FROM cum, tot
        |  WHERE next_len IS NOT NULL
        |  GROUP BY na, nb)
        |SELECT na AS n_a, nb AS n_b, w1_num, $w1 AS w1_e4
        |FROM agg""".stripMargin
    },
    // same integer gap walk; DuckDB's framed running sums and the
    // min-struct argmax mirror the engine exactly
    "q236_ks_drift" -> {
      import Rounding.intDivExactSql
      val ks = intDivExactSql(
        "CAST(max_gap_num AS HUGEINT) * 2000000 + na * nb",
        "2 * na * nb")
      s"""WITH d AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |cells AS (
        |  SELECT len,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM d GROUP BY len),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb
        |  FROM d),
        |cum AS (
        |  SELECT len,
        |    sum(ca) OVER (ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |    sum(cb) OVER (ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
        |  FROM cells),
        |gaps AS (
        |  SELECT na, nb, len,
        |    abs(cum_a * nb - cum_b * na) AS gap_num
        |  FROM cum, tot),
        |agg AS (
        |  SELECT na, nb,
        |    CAST(max(gap_num) AS BIGINT) AS max_gap_num,
        |    min(struct_pack(ng := -gap_num, l := len)) AS am
        |  FROM gaps GROUP BY na, nb)
        |SELECT na AS n_a, nb AS n_b, max_gap_num,
        |  am.l AS len_at_max,
        |  $ks AS ks_e6
        |FROM agg""".stripMargin
    },
    // the global rank is a plain row_number here (DuckDB is single-node;
    // the engine's GlobalRank assigns the identical total order), ceil
    // as (a+b-1)//b through HUGEINT mirrors intDivExact
    "q234_quantile_norm" -> {
      import Rounding.intDivExactSql
      val pos = intDivExactSql(
        "CAST(2 * r.src_rank - 1 AS HUGEINT) * nt.n_total" +
          " + 2 * r.n_src - 1",
        "2 * r.n_src")
      s"""WITH d AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS src_rank,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM d),
        |g AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id)
        |      AS BIGINT) AS g_pos,
        |    n_chars AS g_chars
        |  FROM d),
        |nt AS (SELECT count(*) AS n_total FROM d),
        |posd AS (
        |  SELECT r.doc_id, r.source, r.n_chars, r.src_rank,
        |    $pos AS pos
        |  FROM ranked r, nt)
        |SELECT p.doc_id, p.source, p.n_chars, p.src_rank, p.pos,
        |  g.g_chars AS norm_chars
        |FROM posd p JOIN g ON p.pos = g.g_pos
        |ORDER BY p.doc_id""".stripMargin
    },
    // the single-task per-stratum row_number form GlobalRank + the
    // stratum-offset join provably equals (same total order per stratum)
    "q216_exact_kfold" ->
      s"""WITH h AS (
        |  SELECT doc_id, source,
        |    ${graft.functions.Hashing.md5U32Sql("CAST(doc_id AS VARCHAR)")}
        |      AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY u, doc_id) AS BIGINT) AS rs
        |  FROM h)
        |SELECT doc_id, source, CAST((rs - 1) % 5 AS BIGINT) AS fold
        |FROM r ORDER BY doc_id""".stripMargin,
    // same exact-integer ratio grid, same HUGEINT//-mirrored divisions,
    // same md5 acceptance coin
    "q212_dsir_resample" -> {
      import Rounding.intDivExactSql
      s"""WITH toks AS (
        |  SELECT doc_id, lang, unnest($tokSql) AS tok FROM documents),
        |tc AS (SELECT tok, count(*) FILTER (WHERE lang = 'en') AS ct,
        |         count(*) AS cc
        |       FROM toks GROUP BY tok),
        |tot AS (SELECT sum(ct) AS t, sum(cc) AS c FROM tc),
        |r AS (SELECT tok,
        |    ${intDivExactSql("CAST(ct AS HUGEINT) * 1000000 * c",
             "CAST(cc AS HUGEINT) * t")} AS r_e6
        |  FROM tc, tot),
        |dw AS (SELECT doc_id,
        |    ${intDivExactSql("sum(r_e6)", "count(*)")} AS weight_e6
        |  FROM toks JOIN r USING (tok) GROUP BY doc_id),
        |mw AS (SELECT max(weight_e6) AS wmax FROM dw)
        |SELECT doc_id, weight_e6,
        |  CAST(${graft.functions.Hashing.md5U32Sql("CAST(doc_id AS VARCHAR)")}
        |    * wmax < weight_e6 * 4294967296 AS BIGINT) AS kept
        |FROM dw, mw ORDER BY doc_id""".stripMargin
    },
    // same quality arithmetic, same e4 grid + doc_id tie-break, same ntile
    "q196_ccnet_buckets" ->
      s"""WITH $qualityCtes,
        |b AS (
        |  SELECT source, q_e4,
        |    CAST(ntile(3) OVER (PARTITION BY source
        |      ORDER BY q_e4 DESC, doc_id) AS BIGINT) AS bucket
        |  FROM q)
        |SELECT source, bucket, count(*) AS n_docs,
        |  min(q_e4) AS min_q_e4, max(q_e4) AS max_q_e4
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q200_corpus_shuffle" -> {
      val u = graft.functions.Hashing
        .md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH k AS (SELECT doc_id, $u AS u FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY u, doc_id) AS BIGINT) AS pos
        |  FROM k)
        |SELECT doc_id, pos,
        |  CAST((pos - 1) // 64 AS BIGINT) AS shard
        |FROM r ORDER BY pos""".stripMargin
    },
    "q199_quality_sweep" -> {
      import Rounding.intDivExactSql
      s"""WITH $qualityCtes,
        |g AS (SELECT CAST(unnest(generate_series(0, 10)) * 1000 AS BIGINT)
        |        AS thresh_e4)
        |SELECT source, thresh_e4, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN q_e4 >= thresh_e4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  ${intDivExactSql(
           "CAST(sum(CASE WHEN q_e4 >= thresh_e4 THEN 1 ELSE 0 END) " +
             "AS HUGEINT) * 1000000", "count(*)")}
        |    AS keep_share_e6
        |FROM q CROSS JOIN g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q159_boilerplate_prefix" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH p AS (
         |  SELECT source, array_to_string(
         |    (regexp_split_to_array(lower(trim(text)), '\\s+'))[1:5], ' ')
         |    AS prefix
         |  FROM documents),
         |c AS (SELECT source, prefix, count(*) AS n FROM p GROUP BY 1, 2),
         |t AS (
         |  SELECT source, prefix AS top_prefix, n,
         |    sum(n) OVER (PARTITION BY source) AS n_docs,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n DESC, prefix) AS rn
         |  FROM c)
         |SELECT source, top_prefix, n, CAST(n_docs AS BIGINT) AS n_docs,
         |  ${intDivExactSql("CAST(n AS HUGEINT) * 1000000", "n_docs")}
         |    AS share_e6
         |FROM t WHERE rn = 1 ORDER BY source""".stripMargin
    },
    "q148_domain_cap" ->
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rank,
        |  CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) <= 15 AS BIGINT) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q79_bigram_counts" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest($tokSql) AS tok,
         |    unnest(generate_series(1, len($tokSql))) AS pos
         |  FROM documents),
         |bg AS (
         |  SELECT tok AS w1,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM toks)
         |SELECT w1, w2, count(*) AS n FROM bg WHERE w2 IS NOT NULL
         |GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 100""".stripMargin,
    "q80_mask_digits" ->
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
        |  length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
        |    AS n_digits
        |FROM events ORDER BY event_id""".stripMargin,
    "q81_quartile_census" ->
      s"""WITH ev AS (
         |  SELECT event_type, ${centsSql("value")} AS vc
         |  FROM events WHERE value IS NOT NULL),
         |b AS (
         |  SELECT event_type,
         |    quantile_cont(vc, 0.25) AS q1,
         |    quantile_cont(vc, 0.5) AS q2,
         |    quantile_cont(vc, 0.75) AS q3
         |  FROM ev GROUP BY event_type)
         |SELECT ev.event_type,
         |  CAST(CASE WHEN vc <= q1 THEN 1 WHEN vc <= q2 THEN 2
         |            WHEN vc <= q3 THEN 3 ELSE 4 END AS BIGINT) AS quartile,
         |  count(*) AS n, min(vc) AS min_c, max(vc) AS max_c
         |FROM ev JOIN b ON ev.event_type = b.event_type
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q82_group_corr" ->
      s"""WITH ev AS (
         |  SELECT event_type, ${centsSql("value")} AS x,
         |    CAST(length(props) AS BIGINT) AS y
         |  FROM events WHERE value IS NOT NULL AND props IS NOT NULL),
         |s AS (
         |  SELECT event_type,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
         |  FROM ev GROUP BY event_type)
         |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
         |  CAST(floor(
         |    ((n * sxy - sx * sy) /
         |     (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) * 1000000.0
         |    + 0.5) AS BIGINT) AS corr_e6
         |FROM s ORDER BY event_type""".stripMargin,
    "q83_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($tokSql) AS tok FROM documents),
         |tot AS (SELECT count(*) AS t FROM toks)
         |SELECT tok, count(*) AS n
         |FROM toks, tot GROUP BY tok, t
         |HAVING count(*) > t / 64.0
         |ORDER BY tok""".stripMargin,
    "q225_source_concentration" -> {
      import Rounding.intDivExactSql
      s"""WITH c AS (
         |  SELECT lang, source, count(*) AS n
         |  FROM documents GROUP BY 1, 2),
         |r AS (
         |  SELECT lang, count(*) AS n_sources,
         |    CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT)
         |      AS pairs_same
         |  FROM c GROUP BY 1)
         |SELECT lang, n_sources, n_docs,
         |  CASE WHEN n_docs <= 1 THEN 0 ELSE
         |    ${intDivExactSql("pairs_same * 1000000",
            "CAST(n_docs AS HUGEINT) * (n_docs - 1)")} END AS simpson_e6
         |FROM r ORDER BY lang""".stripMargin
    },
    "q218_contamination_score" -> {
      import Rounding.intDivExactSql
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+3], ' ') AS gram
         |  FROM toks, unnest(generate_series(1, len(tk) - 3)) AS t(i)
         |  WHERE len(tk) >= 4),
         |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
         |sc AS (
         |  SELECT g.doc_id, count(*) AS n_grams,
         |    CAST(count(b.gram) AS BIGINT) AS n_shared
         |  FROM grams g LEFT JOIN bench b ON g.gram = b.gram
         |  WHERE g.doc_id % 97 <> 0
         |  GROUP BY 1)
         |SELECT doc_id, n_grams, n_shared,
         |  ${intDivExactSql("CAST(n_shared AS HUGEINT) * 1000000",
            "n_grams")} AS contamination_e6,
         |  CAST(${intDivExactSql("CAST(n_shared AS HUGEINT) * 1000000",
            "n_grams")} >= 100000 AS BIGINT) AS flagged
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "q84_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS tk FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+3], ' ') AS gram
         |  FROM toks, unnest(generate_series(1, len(tk) - 3)) AS t(i)
         |  WHERE len(tk) >= 4),
         |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(*) AS n_shared
         |FROM grams g JOIN bench b ON g.gram = b.gram
         |WHERE g.doc_id % 97 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q86_repetition_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct($tokSql)) AS BIGINT) AS n_distinct
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_distinct,
         |  CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 10000.0
         |    + 0.5) AS BIGINT) AS dup_ratio_e4,
         |  CAST(floor((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 10000.0
         |    + 0.5) AS BIGINT) <= 9000 AS keep
         |FROM t ORDER BY doc_id""".stripMargin,
    "q87_skew_report" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(floor(count(*) * 10000.0 /
        |    (SELECT count(*) FROM events) + 0.5) AS BIGINT) AS share_e4
        |FROM events GROUP BY user_id
        |ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
    "q92_balance_sources" -> {
      val u = graft.functions.Hashing.md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_total FROM documents GROUP BY source),
         |wm AS (
         |  SELECT source, n_total, (SELECT min(n_total) FROM counts) AS min_n
         |  FROM counts),
         |kept AS (
         |  SELECT d.source, count(*) AS n_kept
         |  FROM documents d JOIN wm ON d.source = wm.source
         |  WHERE $u < CAST(min_n AS DOUBLE) / n_total
         |  GROUP BY d.source)
         |SELECT source, n_total, min_n, n_kept
         |FROM kept JOIN wm USING (source)
         |ORDER BY source""".stripMargin
    },
    "q94_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM events""".stripMargin
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(one).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY col_name")
    },
    // the DIRECT rollup over all rows — if the Spark side's epoch-split,
    // state-merge path differs anywhere, the hash breaks
    "q95_incremental_agg" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(${centsSql("value")} AS DECIMAL(38,0))) AS BIGINT)
         |    AS sum_c,
         |  min(${centsSql("value")}) AS min_c,
         |  max(${centsSql("value")}) AS max_c
         |FROM events WHERE value IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q98_lm_doc_score" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest($tokSql) AS tok,
         |    unnest(generate_series(1, len($tokSql))) AS pos
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tok AS w1,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM toks),
         |bigrams AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
         |lm AS (SELECT w1, w2, count(*) AS lm_n FROM bigrams GROUP BY w1, w2),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(CAST(lm_n AS DECIMAL(38,0))) AS BIGINT) AS sum_n
         |  FROM bigrams JOIN lm USING (w1, w2)
         |  GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, sum_n,
         |  ${intDivSql("1000 * sum_n", "n_bigrams")} AS score_e3
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "q99_split_assign" -> {
      val u = graft.functions.Hashing.md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH assigned AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN $u < 0.8 THEN 'train'
         |         WHEN $u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT lang, split, count(*) AS n,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM assigned GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin
    },
    "q101_histogram" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH ev AS (
         |  SELECT ${centsSql("value")} AS vc
         |  FROM events WHERE value IS NOT NULL),
         |b AS (SELECT min(vc) AS lo, max(vc) AS hi FROM ev)
         |SELECT ${intDivSql("(vc - lo) * 20", "hi - lo + 1")} AS bin,
         |  count(*) AS n, min(vc) AS min_c, max(vc) AS max_c
         |FROM ev, b GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q132_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (
        |    PARTITION BY source ORDER BY n_tokens DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_tokens
        |  FROM d)
        |SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT)
        |  AS cum_tokens
        |FROM c WHERE cum_tokens <= 800
        |ORDER BY source, doc_id""".stripMargin,
    "q139_temperature_mix" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH t AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS w_e6
        |  FROM t),
        |tot AS (
        |  SELECT CAST(sum(CAST(w_e6 AS DECIMAL(38,0))) AS BIGINT) AS sw
        |  FROM w)
        |SELECT source, n_tokens, w_e6,
        |  ${intDivExactSql("10000 * w_e6", "sw")} AS alloc_docs
        |FROM w CROSS JOIN tot
        |ORDER BY source""".stripMargin
    },
    // same sort, prefix sums, pivot rank and floor-level remainder rule;
    // all BIGINT // (positive operands ⇒ floor = truncate, both engines)
    "q297_waterfill_budget" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT source, n_tokens,
        |    row_number() OVER (ORDER BY n_tokens, source) AS rn,
        |    sum(n_tokens) OVER (ORDER BY n_tokens, source
        |      ROWS UNBOUNDED PRECEDING) AS pfx
        |  FROM t),
        |tot AS (SELECT count(*) AS ns, CAST(sum(n_tokens) AS BIGINT) AS ttl
        |        FROM t),
        |wr AS (
        |  SELECT r.*, ns, ttl, ttl // 2 AS budget,
        |    pfx - n_tokens AS base, ns - rn + 1 AS rem_src
        |  FROM r, tot),
        |istar AS (
        |  SELECT min(rn) AS i_star FROM wr
        |  WHERE base + CAST(n_tokens AS HUGEINT) * rem_src >= budget),
        |sel AS (
        |  SELECT wr.base AS b0, wr.rem_src AS r0 FROM wr, istar
        |  WHERE wr.rn = istar.i_star),
        |lv AS (
        |  SELECT i_star, b0, r0, (SELECT budget FROM wr LIMIT 1) AS budget
        |  FROM istar, sel),
        |fin AS (
        |  SELECT i_star, b0, r0, (budget - b0) // r0 AS level,
        |    budget - b0 - ((budget - b0) // r0) * r0 AS rmd
        |  FROM lv)
        |SELECT source, n_tokens,
        |  CAST(CASE WHEN rn < i_star THEN n_tokens
        |    ELSE level + CASE WHEN rn > ns - rmd THEN 1 ELSE 0 END
        |  END AS BIGINT) AS alloc_tokens,
        |  CAST(rn < i_star AS BIGINT) AS saturated,
        |  CAST(level AS BIGINT) AS level
        |FROM wr, fin ORDER BY source""".stripMargin,
    // same √(f·√f) IEEE chain, same Hamilton floor+remainder top-up
    "q334_ns_weights" ->
      s"""WITH f AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |w AS (
        |  SELECT tok, f,
        |    CAST(floor(sqrt(CAST(f AS DOUBLE) * sqrt(CAST(f AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS w_e6
        |  FROM f),
        |tot AS (SELECT CAST(sum(w_e6) AS BIGINT) AS w_total FROM w),
        |based AS (
        |  SELECT tok, f, w_e6,
        |    CAST(CAST(w_e6 AS HUGEINT) * 1000000 // w_total AS BIGINT)
        |      AS floor_alloc,
        |    CAST(CAST(w_e6 AS HUGEINT) * 1000000 % w_total AS BIGINT)
        |      AS rem
        |  FROM w, tot),
        |r AS (
        |  SELECT *, CAST(sum(floor_alloc) OVER () AS BIGINT) AS fa,
        |    CAST(row_number() OVER (ORDER BY rem DESC, tok) AS BIGINT)
        |      AS rk
        |  FROM based)
        |SELECT tok, f, w_e6,
        |  CAST(floor_alloc + CASE WHEN rk <= 1000000 - fa THEN 1 ELSE 0
        |    END AS BIGINT) AS alloc
        |FROM r ORDER BY tok""".stripMargin,
    // character 8-grams via list comprehension (docs are ASCII; code-point
    // and byte indexing coincide — asserted in RoundElevenPropertySpec);
    // same (d*20000+n)//(2n) round-half-up e4, BIGINT throughout
    "q319_compression_ratio" ->
      """SELECT doc_id, source,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
        |  CAST(greatest(length(text) - 7, 0) AS BIGINT) AS n_8grams,
        |  CAST(len(list_distinct(
        |    [substr(text, i, 8) for i in range(1, greatest(length(text) - 6, 1))]
        |  )) AS BIGINT) AS distinct_8grams,
        |  CASE WHEN length(text) < 8 THEN NULL
        |    ELSE CAST((len(list_distinct(
        |        [substr(text, i, 8)
        |         for i in range(1, greatest(length(text) - 6, 1))])) * 20000
        |      + (length(text) - 7)) // (2 * (length(text) - 7)) AS BIGINT)
        |  END AS redundancy_e4
        |FROM documents ORDER BY doc_id""".stripMargin)
}
