package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.{Rounding, TextAnalysis}
import graft.operators.RangeJoin

/** Corpus indexing and robust-statistics operators: an inverted index with
  * a document-frequency gate (q114), exact integer-scaled character-entropy
  * quality scoring (q115), percentile winsorization (q116), and a keyless
  * interval-overlap join (q117). All outputs are BIGINT / strings — the
  * q73/q74 de-floating discipline — except where a construct is already
  * hash-proven elsewhere (q75's integer-percentile interpolation). */
object CorpusStatsQueries extends QueryPack {

  import Rounding.{cents, centsSql, sumCents, sumCentsSql}

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Inverted index over word trigrams with a document-frequency gate:
    * gram → (df, comma-joined sorted posting list). The df gate runs
    * FIRST as its own map-side-combinable count aggregation, and only
    * gate-passing grams reach the posting-list `collect_set` — so the set
    * buffer is bounded by the df cap (20), never by a stopword gram's
    * full corpus frequency. That ordering — count, filter, THEN collect —
    * is the q41/q83 two-pass discipline; a single-pass
    * `collect_set + size() HAVING` would buffer every posting of every
    * stop-gram before discarding it. Posting lists sort numerically
    * before the string join (sort_array on longs, then cast — not a
    * lexicographic sort of "10" < "2"). */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    // r20 rewrite (guide §2.4): the df gate rides an unordered window
    // over the gram key instead of a count-aggregate + join-back — the
    // q147 one-shuffle discipline. The window's partition IS the dedup
    // key, so the gate filter, then the posting-list aggregation, both
    // reuse the ONE gram-keyed exchange: the tokenize + trigram explode
    // runs once instead of twice and two of three shuffles disappear
    // (plan: 3 exchanges / 2 scans → 1 / 1). The collect_set stays
    // bounded exactly as before — the filter sits ABOVE the window and
    // BELOW the aggregation, so only gate-passing grams (df ≤ 20) ever
    // reach a set buffer.
    import org.apache.spark.sql.expressions.Window
    graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel trigram build
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextAnalysis.ngramsFromTokens(col("t"), 3)).as("gram"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("df").between(2, 20))
      .groupBy("gram")
      .agg(min("df").as("df"),
        array_join(
          transform(sort_array(collect_set(col("doc_id"))),
            d => d.cast("string")),
          ",").as("postings"))
      .orderBy("gram")
  }

  /** Character-entropy quality score, exact to the bit: the classic
    * low-entropy screen (boilerplate, repeated-char spam) emitted as an
    * INTEGER numerator instead of a float score. With counts c_i over
    * characters and n = Σc_i, Shannon entropy in nats is
    * H = ln(n) − (Σ c_i·ln(c_i))/n; this emits
    * `entropy_num_e6 = round(n·ln(n)·10⁶) − Σ round(c_i·ln(c_i)·10⁶)`
    * (so H ≈ entropy_num_e6 / (n·10⁶)). Each log term is rounded to the
    * integer grid BEFORE the sum, so the cross-row summation — the one
    * step whose float ordering an engine cannot pin — is exact integer
    * addition; the only remaining divergence channel is a single ln() ulp
    * landing exactly on a .5 grid boundary (the q55 transcendental
    * argument, ~1e-12 per term). One explode + two aggregations,
    * embarrassingly parallel. */
  private def q115(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(length(col("text")) > 0)
      // split('') emits the char array in one O(len) pass; the
      // substring-per-index lambda it replaces is O(len²) per document
      // (each UTF8String substring seeks from the string head)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"),
        sum(floor((col("c").cast("double") * log(col("c").cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long")).as("sum_term"))
      .select(col("doc_id"), col("n").as("n_chars_total"),
        (floor((col("n").cast("double") * log(col("n").cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long") - col("sum_term"))
          .as("entropy_num_e6"))
      .orderBy("doc_id")

  /** Percentile winsorization: per event_type, values clamped to the exact
    * [p05, p95] band, with the clamp boundaries computed on integer cents
    * (Spark `percentile` ≡ DuckDB `quantile_cont` there — the q75/q81
    * proven construct) and the clamped value re-landed on the integer grid
    * via the shared floor-form round. The bounds table is O(types) and
    * broadcast; the classification pass is map-side — the same
    * one-aggregation-plus-broadcast shape as q81, never a global sort. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), cents(col("value")).as("vc"))
    val bounds = e.groupBy("event_type").agg(
      expr("percentile(vc, 0.05)").as("lo"),
      expr("percentile(vc, 0.95)").as("hi"))
    e.join(broadcast(bounds), "event_type")
      .withColumn("cl",
        when(col("vc") < col("lo"), floor(col("lo") + lit(0.5)).cast("long"))
          .when(col("vc") > col("hi"), floor(col("hi") + lit(0.5)).cast("long"))
          .otherwise(col("vc")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("vc") < col("lo")).cast("long")).as("n_lo"),
        sum((col("vc") > col("hi")).cast("long")).as("n_hi"),
        sumCents(col("cl")).as("sum_winsorized_cents"))
      .orderBy("event_type")
  }

  /** Keyless interval-overlap join ([[RangeJoin.overlapBinned]]): each
    * user's click-price band [min_click_cents, +500) against every user's
    * purchase-price band [min_purchase_cents, +800), paired wherever the
    * bands intersect — no equi key exists, the nested-loop product Spark
    * would otherwise plan is replaced by a bin-keyed equi-join, and each
    * true pair is counted exactly once (in the first shared bin) without a
    * dedup exchange. The oracle runs the naive overlap product. Output is
    * aggregated per click-side user so result size is O(users). */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    def band(t: String, w: Int, user: String, lo: String, hi: String) =
      ev(s, dir)
        .filter(col("event_type") === t && col("value").isNotNull)
        .groupBy(col("user_id").as(user))
        .agg(min(cents(col("value"))).as(lo))
        .withColumn(hi, col(lo) + lit(w.toLong))
    val clicks = band("click", 500, "u", "l_lo", "l_hi")
    val buys = band("purchase", 800, "v", "r_lo", "r_hi")
    RangeJoin.overlapBinned(clicks, buys, "l_lo", "l_hi", "r_lo", "r_hi", 512L)
      .groupBy("u")
      .agg(count(lit(1)).as("n_overlap"), min("v").as("min_v"),
        max("v").as("max_v"))
      .orderBy("u")
  }

  /** Context-window chunking with overlap — the preprocessing step that
    * turns long documents into training-window-sized pieces: chunks of
    * `Size` chars every `Stride` chars (so consecutive chunks overlap by
    * Size − Stride), the last chunk clamped at the text end, short docs
    * kept whole. Pure generator expansion (sequence + substring — one
    * explode, no shuffle before the presentation sort); chunk text rides
    * as an md5 fingerprint so the oracle compares content without hashing
    * megabytes of repeated substrings. Chunk-count arithmetic is the
    * portable ceil-division on doubles (exact: len < 2^53). */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val (size, stride) = (200, 150)
    docs(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .select(col("doc_id"), col("text"), col("len"), explode(expr(
        s"""sequence(0, CASE WHEN len <= $size THEN 0
           |  ELSE CAST(ceil(CAST(len - $size AS DOUBLE) / $stride) AS INT)
           |  END)""".stripMargin)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride + 1).cast("long").as("start_pos"),
        length(expr(s"substring(text, chunk_id * $stride + 1, $size)"))
          .cast("long").as("chunk_len"),
        md5(expr(s"substring(text, chunk_id * $stride + 1, $size)"))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Cross-source vocabulary overlap — the corpus-mixture diagnostic
    * ("how lexically similar are my sources?") that steers source
    * weighting and dedup effort. Per source, the top-50 terms by
    * frequency (count desc, term asc — total order, engine-agnostic);
    * then every source pair's common-term count via ONE self-join on the
    * term of a 20×50-row table. The pair grid is built from the tiny
    * per-source size table (cross join of O(sources) rows) and
    * left-joined so zero-overlap pairs still report. Jaccard is left to
    * the consumer as the exact pair (n_common, n_a + n_b − n_common) —
    * integers only, the q112 discipline. At 100 TB only the term-count
    * aggregation touches the data; everything after is O(sources²). */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs(s, dir)
      .select(col("source"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source")
      .orderBy(col("c").desc, col("tok"))
    val top = tf.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50).select("source", "tok")
    val sizes = top.groupBy("source").agg(count(lit(1)).as("n"))
    val common = top.select(col("source").as("src1"), col("tok"))
      .join(top.select(col("source").as("src2"), col("tok")), "tok")
      .filter(col("src1") < col("src2"))
      .groupBy("src1", "src2").agg(count(lit(1)).as("n_common"))
    // sizes is one row per source (bounded, tiny) — hint it so the
    // product is a broadcast NLJ even under a conservative planner
    sizes.select(col("source").as("src1"), col("n").as("n_a"))
      .crossJoin(broadcast(
        sizes.select(col("source").as("src2"), col("n").as("n_b"))))
      .filter(col("src1") < col("src2"))
      .join(common, Seq("src1", "src2"), "left")
      .select(col("src1"), col("src2"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .orderBy("src1", "src2")
  }

  /** Per-source vocabulary census — type-token ratio and hapax-legomenon
    * share, the vocabulary-growth diagnostics (Heaps'-law inputs) a corpus
    * mixer reads next to q138's overlap matrix: a source whose hapax share
    * collapses is template-generated; one whose type-token ratio spikes is
    * noise/OCR damage. Two keyed shuffles — (source, tok) term counts,
    * then the ~20-row source rollup — tokens never leave the first
    * exchange as anything wider than the pair; ratios are exact e6
    * fixed-point on the [[Rounding.intDivExact]] path (hapax·1e6 clears
    * 2^53 only past ~9e9 singleton terms per source — real at 100 TB,
    * handled by the decimal widening). */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val tf = docs(s, dir)
      .select(col("source"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    tf.groupBy("source")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum((col("c") === 1).cast("long")).cast("long").as("hapax"))
      .withColumn("type_token_e6",
        intDivExact(
          col("vocab_size").cast("decimal(19,0)") * lit(1000000L),
          col("n_tokens")))
      .withColumn("hapax_share_e6",
        intDivExact(
          col("hapax").cast("decimal(19,0)") * lit(1000000L),
          col("vocab_size")))
      .orderBy("source")
  }

  /** Collocation mining — top-50 adjacent token pairs by pointwise
    * mutual information, LOG-FREE: PMI's log is monotone, so ranking by
    * the raw association ratio n_ab·N / (n_a·n_b) orders identically,
    * and that ratio is an exact e6 integer on the intDivExact path — no
    * transcendental for engines to disagree on. The n_ab ≥ 5 support
    * gate is the standard collocation floor (and bounds the ranked set).
    * Shape: bigram and unigram counts are two keyed aggregations; the
    * unigram joins are KEYED on the token (at 100 TB the vocabulary is
    * not broadcastable — only the 1-row total is); top-50 is a bounded
    * TakeOrdered on the total order (ratio, pair). */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val toks = docs(s, dir)
      .select(TextAnalysis.tokensCol(col("text")).as("t"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("tok_a"),
          element_at(col("t"), i + 1).as("tok_b")))).as("p"))
      .select(col("p.tok_a"), col("p.tok_b"))
    val bi = pairs.groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    val uni = docs(s, dir)
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum("c").cast("long").as("n_total"))
    bi.join(uni.select(col("tok").as("tok_a"), col("c").as("n_a")),
        "tok_a")
      .join(uni.select(col("tok").as("tok_b"), col("c").as("n_b")),
        "tok_b")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_e6",
        intDivExact(
          col("n_ab").cast("decimal(38,0)") * col("n_total") *
            lit(1000000L),
          col("n_a").cast("decimal(38,0)") * col("n_b")))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("tok_a"), col("tok_b"))
      .limit(50)
  }

  /** Distinct-4-gram compression ratio per document — the deduplication-
    * within-document quality signal (a near-1 ratio means novel prose; a
    * low ratio means boilerplate/repetition — the complement of q86's
    * Gopher dup-token rule, at 4-gram granularity). ZERO shuffle beyond
    * the presentation sort: the gram set is built and deduplicated
    * per-row with codegen'd array lambdas (transform + array_distinct on
    * a bounded-length token array), never exploded — at 100 TB this is a
    * pure map stage, where the explode-and-groupBy formulation would
    * shuffle every gram of every document. The ratio is exact ppm via
    * [[Rounding.intDivExact]]. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    docs(s, dir)
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 4)
      .select(col("doc_id"),
        (size(col("t")) - 3).cast("long").as("n_grams"),
        size(TextAnalysis.ngramsFromTokens(col("t"), 4)).cast("long")
          .as("n_distinct"))
      .withColumn("dedup_ratio_e6",
        intDivExact(col("n_distinct").cast("decimal(38,0)") * lit(1000000L),
          col("n_grams")))
      .orderBy("doc_id")
  }

  /** Dyadic (power-of-2) document-length histogram per source — the
    * log-scale size profile a curation run reads before choosing chunking
    * and packing parameters. The bucket function is one generated CASE
    * chain over [2^b, 2^(b+1)) ranges — pure integer compares, the SAME
    * construction rendered into both engines (no log(): float log at an
    * exact power-of-2 boundary is an off-by-one-ulp coin flip). */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val nc = col("n_chars")
    val bucket = (0 until 20).foldLeft(when(nc < 1L, lit(-1L))) {
      (acc, b) => acc.when(
        nc >= (1L << b) && nc < (1L << (b + 1)), lit(b.toLong))
    }.otherwise(lit(20L))
    docs(s, dir)
      .groupBy(col("source"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long")
          .as("sum_chars"))
      .orderBy("source", "bucket")
  }

  /** Gini coefficient of document length per source — the inequality
    * statistic behind "is this source dominated by a few huge docs?".
    * Exact closed form over the per-source ascending sort:
    * G_e6 = ⌊(2·Σ i·xᵢ − (n+1)·Σx)·10⁶ / (n·Σx)⌋ with i the 1-based
    * rank — every term an exact integer (decimal-accumulated sums,
    * HUGEINT/decimal cross-products), so both engines land on the same
    * BIGINT. One row_number window + one aggregation, both on the same
    * source partitioning. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Rounding.intDivExact
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("i", row_number().over(w).cast("long"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long").as("sx"),
        sum((col("i") * col("n_chars")).cast("decimal(38,0)")).cast("long")
          .as("six"))
      .withColumn("gini_e6",
        intDivExact(
          (col("six").cast("decimal(38,0)") * 2 -
            col("sx").cast("decimal(38,0)") * (col("n") + 1)) *
            lit(1000000L),
          col("n").cast("decimal(38,0)") * col("sx")))
      .select("source", "n", "sx", "gini_e6")
      .orderBy("source")
  }

  /** Positional phrase query — the retrieval operation q114's inverted
    * index can't answer (its postings carry no positions): find every
    * document containing the exact 3-token phrase "query big part" and
    * count its occurrences. The engine never scans text for a substring:
    * it builds positional postings (doc_id, pos) for ONLY the three query
    * terms — the filter lands before any exchange, so the shuffled volume
    * is the query terms' posting lists, not the corpus — then intersects
    * them with two equi-joins keyed on (doc_id, pos − offset), the
    * standard phrase-query merge every positional index runs. At 100 TB
    * the join keys are (doc, position) pairs — maximal cardinality, no
    * skew — and a stopword-heavy phrase degrades to the biggest posting
    * list, exactly the positional-index contract. Output: doc, match
    * count, first match position (integer argmin via min on pos). */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    val phrase = Seq("query", "big", "part")
    val toks = docs(s, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokensCol(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
    def posting(term: String, offset: Int) =
      toks.filter(col("tok") === term)
        .select(col("doc_id"), (col("pos") - offset).as("anchor"))
    phrase.zipWithIndex
      .map { case (term, i) => posting(term, i) }
      .reduce(_.join(_, Seq("doc_id", "anchor")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min("anchor").cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Zipf rank-frequency profile at dyadic ranks — the corpus-health
    * audit behind every "is this crawl natural language?" check: rank
    * the vocabulary by exact global frequency and read off the term
    * frequency at ranks 1, 2, 4, …, 2^k, plus the local Zipf signal
    * `c(r)/c(2r)` as an exact e6 ratio (for a pure Zipf law with
    * exponent s the ratio is 2^s at every dyadic rank — a flat ratio
    * column ⇒ power-law tail; logs never enter, the q209 de-log move).
    * The global rank comes from [[graft.operators.GlobalRank]] — a
    * range-partitioned two-pass, NOT a `row_number() OVER (ORDER BY)`
    * single-task window, so the profile survives a 10^9-term vocabulary;
    * the dyadic filter keeps ~log₂(V) rows, and the c(2r) lookup is a
    * self-join of that log-sized frame. */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val uni = docs(s, dir)
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val dyadic = graft.operators.GlobalRank
      .withRank(uni, "rank", col("freq").desc, col("tok"))
      .filter(expr("(rank & (rank - 1)) = 0"))
    val half = dyadic.select(col("rank").as("rank2"), col("freq").as("freq2"))
    dyadic.join(half, col("rank") * 2 === col("rank2"), "left")
      .select(col("rank"), col("tok"), col("freq"),
        coalesce(
          intDivExact(col("freq").cast("decimal(19,0)") * lit(1000000L),
            col("freq2")),
          lit(0L)).as("zipf_ratio_e6"))
      .orderBy("rank")
  }

  /** Vocabulary novelty between ingest batches — q217 watches the
    * source/lang MIX drift; this watches the CONTENT drift: per source,
    * how much of the newer batch's vocabulary was never seen in the
    * older batch (batches = the deterministic doc_id parity split, the
    * q151/q217 stand-in for consecutive crawl drops). High novelty ⇒ the
    * source changed register/domain (or its crawler broke); near-zero ⇒
    * the new batch is rehashed old content and dedup pressure is coming.
    * ONE shuffle: the (source, token) membership flags collapse in a
    * single groupBy with bool-max flags (map-side combinable), and the
    * per-source rollup rides the usual ~#sources exchange; the e6 rate
    * is the exact decimal division, CASE-guarded for a batch-empty
    * source. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val flags = docs(s, dir)
      .select(col("source"), (col("doc_id") % 2 === 0).as("a"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .groupBy("source", "tok")
      .agg(max(col("a").cast("int")).as("has_a"),
        max((!col("a")).cast("int")).as("has_b"))
    flags.groupBy("source")
      .agg(sum("has_a").cast("long").as("n_vocab_a"),
        sum("has_b").cast("long").as("n_vocab_b"),
        sum(((col("has_b") === 1) && (col("has_a") === 0)).cast("long"))
          .as("n_new"))
      .withColumn("novelty_e6",
        when(col("n_vocab_b") === 0, lit(0L))
          .otherwise(intDivExact(
            col("n_new").cast("decimal(19,0)") * lit(1000000L),
            col("n_vocab_b"))))
      .orderBy("source")
  }

  /** Tokenizer-fertility census per (lang, source) — the pre-training
    * cost model's first input: how many subword tokens a corpus slice
    * will cost per whitespace word (fertility) and how many characters
    * each subword token covers (compression). High fertility on a slice
    * means the tokenizer underserves that language — the standard reason
    * multilingual mixes over- or under-count their token budgets. Uses
    * q45's BPE-ish pre-tokenizer regex verbatim; everything stays
    * integral: counts sum through decimal(38,0) and the e4 ratios are
    * round-half-up EXACT rational division ((2·10⁴·a + b) div 2b via
    * intDivExact/HUGEINT) — no double ever materializes, so the census
    * cannot ulp-diverge at any corpus size. One map pass + one 100-group
    * aggregation; nothing shuffles but the partial aggregates. */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    // q45's GPT-2-style pre-tokenizer classes (TextQueries.q45)
    val pat = TextAnalysis.bpePiecePattern
    def e4(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =
      intDivExact(num.cast("decimal(38,0)") * lit(20000L) + den,
        lit(2L) * den)
    docs(s, dir)
      .select(col("lang"), col("source"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
          .as("bpe"),
        TextAnalysis.tokenCount(col("text")).as("ws"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bpe").cast("decimal(38,0)")).cast("long").as("n_bpe"),
        sum(col("ws").cast("decimal(38,0)")).cast("long").as("n_ws"),
        sum(col("chars").cast("decimal(38,0)")).cast("long").as("n_chars"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("n_bpe"), col("n_ws"), col("n_chars"),
        e4(col("n_bpe"), col("n_ws")).as("fertility_e4"),
        e4(col("n_chars"), col("n_bpe")).as("chars_per_tok_e4"))
      .orderBy("lang", "source")
  }

  /** Sparse TF-IDF cosine pairs — the inverted-index similarity join
    * (the text twin of q50's dense cosine: no embeddings, just the
    * index): integer weights w = tf · idf_e4 (the q64 rational idf —
    * no log, both engines bit-agree), dot products and norms
    * accumulate EXACTLY through decimal(38,0)/HUGEINT over the
    * df-gated vocabulary (2 ≤ df ≤ 100 — the stopword gate IS the
    * fan-out bound: a token contributes at most C(100,2) pairs), and
    * only the final cosine runs in doubles — identical casts of
    * identical integers, correctly-rounded sqrt, same three IEEE ops.
    * Top-100 pairs under a fully deterministic (cos DESC, a, b)
    * order. */
  private def q266(s: SparkSession, dir: String): DataFrame = {
    // terms are word TRIGRAMS: this corpus's ~30-word vocabulary makes
    // every unigram a stopword (df ≫ the gate at sf0.1 → empty result);
    // trigram df sits in the 2–100 band at every SF. ngramsFromTokens
    // dedups within a doc, so tf is BINARY — this is the idf-weighted
    // SET cosine (the shingle-set similarity BM25 folks call binary-tf),
    // and the oracle's DISTINCT mirrors it
    // (r20: checkpointing tf and w here — each feeds 2-3 consumers —
    // measured 1.06× SLOWER at sf0.1: this plan's duplicated subtrees
    // already collapse under ReuseExchange (7 reused exchanges), so the
    // barriers only serialized the pipeline. Left lazy deliberately.)
    // tf is IDENTICALLY 1 (ngramsFromTokens array_distincts per doc —
    // the binary-tf contract this query's scaladoc and the oracle's
    // DISTINCT already pin), so the former `groupBy(doc_id, tok).count`
    // was a full (doc_id, tok)-keyed EXCHANGE of the exploded gram
    // relation that computed a constant (r21, guide §2.4 — "a distinct
    // on data that is already unique"). The literal keeps the rows and
    // every downstream value bit-identical while the chain's first
    // shuffle disappears; were the per-doc dedup ever removed upstream,
    // the driver hash on this query fails loudly.
    val tf = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel trigram tf build
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextAnalysis.ngramsFromTokens(col("t"), 3)).as("tok"))
      .withColumn("tf", lit(1L))
    val dfGate = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 100))
    val nd = docs(s, dir).groupBy().agg(count(lit(1)).as("nd"))
    val w = tf.join(dfGate, "tok").crossJoin(broadcast(nd))
      .withColumn("idf_e4",
        floor(lit(10000.0) * (col("nd") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(0.5)).cast("long"))
      .select(col("doc_id"), col("tok"),
        (col("tf") * col("idf_e4")).as("w"))
    val norms = w.groupBy("doc_id")
      .agg(sum((col("w") * col("w")).cast("decimal(38,0)"))
        .cast("double").as("n2"))
    val dots = w.as("a")
      .join(w.as("b"), col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(38,0)"))
        .cast("double").as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        floor(lit(1000000.0) * col("dot") /
          (sqrt(col("na")) * sqrt(col("nb"))) + lit(0.5)).cast("long")
          .as("cos_e6"))
      .orderBy(col("cos_e6").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  /** Source-exclusive vocabulary share — the content-diversity question
    * behind every "is this source worth its tokens" decision: per
    * source, how many of its distinct trigrams appear in NO other
    * source? A source whose vocabulary is ~all shared adds volume, not
    * coverage (and is a deduplication suspect — cf. q239's dup-flow
    * matrix). One (gram → distinct source set) aggregation sized by the
    * per-gram SOURCE count (≤ 20, never the posting list), then a
    * per-source rollup; the exclusive share is the exact e4 rational. */
  private def q278(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val g = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("source"),
        col("text")), col("doc_id")) // r20 guide §2.5 — parallel
      // trigram build (doc_id as the fan-out key; source is ~20 values)
      .select(col("source"), TextAnalysis.tokensCol(col("text")).as("t"))
      .select(col("source"),
        explode(TextAnalysis.ngramsFromTokens(col("t"), 3)).as("gram"))
      .distinct()
    // r20 rewrite (guide §2.4): g is DISTINCT (source, gram), so the
    // per-gram source spread is a plain count(1) over a gram-keyed
    // unordered window (the q147 discipline) — the separate
    // countDistinct aggregate + join-back re-ran the tokenize + explode
    // + distinct chain a second time and paid two extra exchanges.
    g.withColumn("n_sources",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("gram")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("n_sources") === 1L).cast("long")).as("n_exclusive"))
      .withColumn("exclusive_e4", intDivExact(
        col("n_exclusive").cast("decimal(38,0)") * lit(20000L) +
          col("n_grams"),
        lit(2L) * col("n_grams")))
      .orderBy("source")
  }

  /** Vocabulary growth curve (Heaps'-law input) — "how fast does new
    * vocabulary arrive as the corpus grows", the curve that says when
    * more data stops buying new coverage (and the empirical basis for
    * the q224 novelty monitor's thresholds): at ten document-count
    * checkpoints, the cumulative token volume and cumulative DISTINCT
    * trigram vocabulary. The scalable trick: cumulative-distinct needs
    * no per-checkpoint rescan — each gram's FIRST document id is one
    * aggregation, and a gram counts toward every checkpoint past its
    * first sighting (a broadcast 10-row checkpoint join). Exact
    * integers throughout. */
  private def q287(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val d = docs(s, dir)
    val bounds = d.groupBy().agg(max("doc_id").as("mx"))
    val cps = bounds.select(explode(expr(
        "transform(sequence(1, 10), k -> k * (mx + 1) div 10)"))
        .as("cp_docs"))
    val grams = d
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("t"))
      .select(col("doc_id"),
        explode(TextAnalysis.hashedNgramsFromTokens(col("t"), 3))
          .as("g"))
    val firsts = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    val vocab = firsts.crossJoin(broadcast(cps))
      .filter(col("first_doc") < col("cp_docs"))
      .groupBy("cp_docs").agg(count(lit(1)).as("cum_vocab"))
    val toks = d
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("tc"))
      .crossJoin(broadcast(cps))
      .filter(col("doc_id") < col("cp_docs"))
      .groupBy("cp_docs")
      .agg(sum(col("tc").cast("decimal(38,0)")).cast("long")
        .as("cum_tokens"))
    toks.join(vocab, "cp_docs").orderBy("cp_docs")
  }

  /** Pairwise total-variation distance between per-source unigram
    * distributions — the drift matrix for CATEGORICAL distributions
    * (token usage), complementing q240's pairwise-KS on numeric drift.
    * TVD = ½Σ|pᵢ − qᵢ| is chosen over KL/JS precisely because it needs
    * NO logarithm: over the common vocabulary, ½Σ|n_a·T_b − n_b·T_a| /
    * (T_a·T_b) is one exact integer rational per pair, emitted half-up
    * on the e6 grid through decimal(38,0)/HUGEINT — no engine libm
    * anywhere (the q64 rational-idf discipline applied to divergence).
    * The vocabulary is gated to the global top-200 tokens (count desc,
    * token asc — deterministic), the fixed-vocab form a production
    * drift monitor uses: per-source counts and totals are RESTRICTED to
    * that vocab so every distribution sums to 1 over the same support,
    * missing tokens contribute their full mass via the vocab × source
    * cross join (200·|sources| rows — bounded), and the pair join is
    * vocab-keyed with |sources|² fan-out on 200-row postings. TVD = 0 ⇔
    * identical usage; 1 ⇔ disjoint. */
  private def q302(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val toks = docs(s, dir)
      .select(col("source"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(200).select("tok")
    val counts = toks.join(vocab, "tok")
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    val grid = docs(s, dir).select("source").distinct()
      .crossJoin(vocab)
      .join(counts, Seq("source", "tok"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val tot = grid.groupBy("source").agg(sum("n").as("t"))
    val cells = grid.join(tot, "source")
    val pairs = cells.select(col("tok"), col("source").as("src_a"),
        col("n").as("na"), col("t").as("ta"))
      .join(cells.select(col("tok"), col("source").as("src_b"),
        col("n").as("nb"), col("t").as("tb")), "tok")
      .filter(col("src_a") < col("src_b"))
    pairs.groupBy("src_a", "src_b")
      .agg(first("ta").as("ta"), first("tb").as("tb"),
        sum(abs(col("na").cast("decimal(38,0)") * col("tb") -
          col("nb").cast("decimal(38,0)") * col("ta"))).as("num"))
      .select(col("src_a"), col("src_b"),
        col("ta").as("tokens_a"), col("tb").as("tokens_b"),
        // empty-support guard: a source with zero top-vocab tokens has
        // no distribution — agreed NULL, not Spark-NULL/DuckDB-error
        when(col("ta") > 0L && col("tb") > 0L, intDivExact(
          col("num") * lit(1000000L) + col("ta").cast("decimal(38,0)") *
            col("tb"),
          lit(2L) * col("ta").cast("decimal(38,0)") * col("tb")))
          .otherwise(lit(null).cast("long")).as("tvd_e6"))
      .orderBy("src_a", "src_b")
  }

  /** KMV (k-minimum-values) distinct-cardinality sketch, AUDITED — the
    * streaming-sketch family's other workhorse next to HLL (q72): per
    * source, the k = 32 smallest md5-u32 hashes of the distinct token
    * BIGRAM set (the corpus's ~31-word synthetic vocabulary is smaller
    * than any useful k, so the sketch runs one n-gram order up — ~650+
    * distinct bigrams per source) yield D̂ = (k−1)·2³² / u₍ₖ₎, and the
    * exact distinct count rides along so the estimate's error is itself
    * a hash-checked fact. The
    * Spark side uses the bounded [[graft.functions.TopKByValue]]
    * aggregate (map-side ≤ k combine — the q306 argument: the exchange
    * carries ≤ k·sources·tasks rows, never the vocabulary), NOT a
    * per-source sort; the oracle replays the same multiset k-th minimum
    * via a window. Hash ties across distinct tokens keep multiset
    * semantics on both engines, so u₍ₖ₎ is identical either way. The
    * estimator is integer end-to-end: (k−1)·2³² ≈ 1.3e11 fits long. */
  private def q321(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import Rounding.{intDiv, intDivExact}
    val k = 32
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val st = docs(s, dir)
      .select(col("doc_id"), col("source"),
        posexplode(TextAnalysis.tokensCol(col("text"))).as(Seq("pos", "tok")))
      .withColumn("w2", lead("tok", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("source"),
        concat(col("tok"), lit(" "), col("w2")).as("tok"))
      .distinct()
      .withColumn("u", graft.functions.Hashing.md5U32(col("tok")))
    val topk = udaf(new graft.functions.TopKByValue(k),
      ExpressionEncoder[graft.functions.Scored]())
    st.groupBy("source")
      .agg(countDistinct(col("tok")).as("n_exact"),
        topk((-col("u")).cast("double"), col("u")).as("mins"))
      .filter(size(col("mins")) >= k) // KMV undefined below k elements
      .select(col("source"), col("n_exact"),
        element_at(col("mins"), k).getField("id").as("kth_u32"))
      .withColumn("kmv_est",
        intDiv(lit((k - 1).toLong * 4294967296L), col("kth_u32")))
      .withColumn("err_e4", intDivExact(
        abs(col("kmv_est") - col("n_exact")).cast("decimal(38,0)") *
          lit(20000L) + col("n_exact"),
        lit(2L) * col("n_exact")))
      .orderBy("source")
  }

  /** Kneser–Ney continuation counts — the part of modern LM smoothing
    * ordinary frequency can't fake: a token's continuation probability
    * is driven by HOW MANY DISTINCT left contexts it follows
    * (N₁₊(•w)), not how often it occurs ("francisco" is frequent but
    * follows only "san" — its continuation mass is tiny). Emits the
    * top-50 tokens by left-context diversity with the exact e6
    * continuation probability N₁₊(•w)/|distinct bigram types|. Same
    * tokenize→lead bigram build as q79 (per-doc windows, high
    * cardinality, no global sort); the distinct-context counts are one
    * two-key aggregation, the bigram-type total a 1-row broadcast, and
    * the top-50 a TakeOrdered — each 100 TB-safe. */
  private def q329(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Rounding.intDivExact
    val toks = docs(s, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokensCol(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = toks.withColumn("w2", lead("tok", 1).over(w))
      .filter(col("w2").isNotNull)
      .select("tok", "w2").withColumnRenamed("tok", "w1")
    val types = bg.distinct()
    val total = types.agg(count(lit(1)).as("n_types"))
    val perTok = bg.groupBy(col("w2").as("token"))
      .agg(count(lit(1)).as("freq"))
      .join(types.groupBy(col("w2").as("token"))
        .agg(count(lit(1)).as("n_left_types")), "token")
    perTok.crossJoin(broadcast(total))
      .select(col("token"), col("freq"), col("n_left_types"),
        intDivExact(
          col("n_left_types").cast("decimal(38,0)") * lit(2000000L) +
            col("n_types"),
          lit(2L) * col("n_types")).as("p_cont_e6"))
      .orderBy(col("n_left_types").desc, col("token"))
      .limit(50)
  }

  /** Vocabulary coverage curve — "how many token types carry 50/90/99%
    * of the token mass": the number every tokenizer-budget and
    * vocab-truncation decision starts from (Zipf's law says the head is
    * tiny; this measures it exactly). Types sort by (count desc, token);
    * rank and cumulative mass come from ONE [[graft.operators.PrefixScan]]
    * pass (rank ≡ running sum of ones) — a `row_number()/sum() OVER
    * (ORDER BY …)` window here would plan as a SINGLE task holding the
    * whole vocabulary, and at 100 TB of web text Heaps' law puts distinct
    * types at 10⁸–10⁹ (the q214/GlobalRank rule). The grand total is the
    * scan's own max (the last running value), so the corpus is read once.
    * For each threshold the smallest prefix k with cum ≥ ⌈p·total⌉ —
    * ceil-exact in integers, no float thresholds. Emits k_types and the
    * prefix's exact e6 coverage per threshold. */
  /** Shared (tok, c, k, cum) vocabulary scan in (count desc, token)
    * order — the substrate both coverage curves (q337, q349) read, so
    * it rides a per-(session, dir)
    * [[graft.operators.SessionDirMemo]] (at 100 TB a production run
    * materializes the ranked vocabulary once and every budget query
    * reads it). Built with `runningSumsMaterialized`, so the scan's
    * range-sorted scratch checkpoint is released at build time. The
    * scan is eager by construction, so even inside
    * `SessionDirMemo.rawChain` this returns a materialized (k, cum)
    * frame — a FRESH eager rebuild, which MemoNeutralitySpec compares
    * row-for-row against the memoized slot, so a nondeterministic scan
    * fails by name. The auditable lazy chain is [[vocabCensus]] (what
    * the scan consumes; the scan's own semantics are pinned by
    * PrefixScanSpec). */
  private val vocabCumMemo = new graft.operators.SessionDirMemo[DataFrame]
  private[graft] def vocabCum(s: SparkSession, dir: String): DataFrame =
    vocabCumMemo.get(s, dir)(
      graft.operators.PrefixScan.runningSumsMaterialized(
        vocabCensus(s, dir).withColumn("one", lit(1L)),
        Seq("one" -> "k", "c" -> "cum"), col("c").desc, col("tok"))
        .drop("one"))

  /** The lazy (tok, c) census [[vocabCum]] scans — the PlanGateSpec
    * builder gate audits this chain. */
  private[graft] def vocabCensus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))

  private def q337(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val scanned = vocabCum(s, dir)
    val cum = scanned
      .crossJoin(broadcast(scanned.agg(max("cum").as("total"))))
    val th = s.createDataFrame(Seq(Tuple1(50L), Tuple1(90L), Tuple1(99L)))
      .toDF("threshold_pct")
    cum.crossJoin(broadcast(th))
      .filter(col("cum") * lit(100L) >= col("threshold_pct") * col("total"))
      .groupBy("threshold_pct")
      .agg(min(struct(col("k"), col("cum"), col("total"))).as("m"))
      .select(col("threshold_pct"), col("m.k").as("k_types"),
        intDivExact(
          col("m.cum").cast("decimal(38,0)") * lit(2000000L) +
            col("m.total"),
          lit(2L) * col("m.total")).as("covered_e6"))
      .orderBy("threshold_pct")
  }

  /** Knee/elbow detection on the rank-coverage curve — the Kneedle-style
    * geometric answer to "where does the head end": over the cumulative
    * token-coverage points (k, cum_k), the knee is the point of maximum
    * distance to the chord from (1, c₁) to (K, c_K), which is exactly
    * the point maximizing the integer CROSS PRODUCT
    * |(K−1)(cum_k − c₁) − (k−1)(c_K − c₁)| — no normalization, no
    * floats, ties to the smallest k. Rank and cumulative mass come from
    * ONE [[graft.operators.PrefixScan]] pass in (count desc, token)
    * order — never a partition-less window, which would hold the whole
    * 10⁸–10⁹-type vocabulary in one task (the q214/GlobalRank rule); the
    * chord endpoints are a 1-row broadcast. The same operator picks k for
    * q118's KMeans or q270's band count from any monotone diagnostic
    * curve. */
  private def q349(s: SparkSession, dir: String): DataFrame = {
    val cum = vocabCum(s, dir).select("k", "cum")
    val ends = cum.agg(max("k").as("kk"),
      min(struct(col("k"), col("cum"))).as("lo"),
      max(struct(col("k"), col("cum"))).as("hi"))
      .select(col("kk"), col("lo.cum").as("c1"), col("hi.cum").as("ck"))
    cum.crossJoin(broadcast(ends))
      .withColumn("cross", abs(
        (col("kk") - lit(1L)).cast("decimal(38,0)") *
          (col("cum") - col("c1")) -
          (col("k") - lit(1L)).cast("decimal(38,0)") *
            (col("ck") - col("c1"))).cast("decimal(38,0)"))
      .orderBy(col("cross").desc, col("k")).limit(1)
      .select(col("k").as("k_knee"), col("cum").as("cum_at_knee"),
        col("kk").as("n_points"), col("cross").cast("long").as("cross_max"))
  }

  /** Per-source KL divergence from the corpus unigram distribution —
    * the drift number a mixture pipeline tracks per feed (q302's TVD is
    * the bounded metric; KL is the likelihood-ratio one the LM-loss
    * story actually speaks): add-one smoothing over the corpus vocab
    * (so no zero cell exists by construction — the full source × vocab
    * lattice materializes via a bounded cross join), and each term
    * pₛ·ln(pₛ/q) follows the q115/q350 float discipline — ln on
    * exact-in-double integer products, identical expression trees on
    * both engines, per-term e9 floor before the sum, so the oracle
    * hash-matches despite the transcendental. */
  private def q351(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("source"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val ct = toks.groupBy("tok").agg(count(lit(1)).as("c_t"))
    val cst = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
    val ns = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = ct.agg(sum("c_t").as("n"), count(lit(1)).as("v"))
    val lattice = ns.crossJoin(ct)
      .join(cst, Seq("source", "tok"), "left")
      .withColumn("c", coalesce(col("c_st"), lit(0L)))
      .crossJoin(broadcast(tot))
    // arg = ((c+1)·N) / ((n_s+V)·C_t); p = (c+1)/(n_s+V); every integer
    // product ≤ ~10¹² — exact in double
    val arg = ((col("c") + lit(1L)).cast("double") *
      col("n").cast("double")) /
      ((col("n_s") + col("v")).cast("double") * col("c_t").cast("double"))
    val term = ((col("c") + lit(1L)).cast("double") /
      (col("n_s") + col("v")).cast("double")) * log(arg)
    lattice
      .select(col("source"), col("n_s"),
        floor(term * lit(1000000000.0) + lit(0.5)).cast("long")
          .as("term_e9"))
      .groupBy("source", "n_s")
      .agg(sum("term_e9").as("kl_e9"), count(lit(1)).as("n_cells"))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_cells"),
        col("kl_e9"))
      .orderBy("source")
  }

  /** Information-gain feature ranking — the classic feature-selection
    * question ("which tokens identify a document's source?") answered
    * exactly: for each token t, IG(t) = H(source) − [P(t)·H(source|t) +
    * P(¬t)·H(source|¬t)] over document-level presence. Zero cells
    * contribute 0 by the entropy convention (summed only where the
    * count is positive — stated, not accidental); every entropy term is
    * p·ln(1/p) ≥ 0 on exact-in-double integer ratios with a per-term e9
    * floor (the q115/q350/q351 float discipline), and the final mixture
    * is one integer-truncated division. The absent-partition lattice is
    * the bounded token × source cross join. Top tokens by (ig desc,
    * token) — the ranking a tokenizer/router audit consumes. */
  private def q352(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"))
    // (r20: checkpointing `present` and `dt` here — each feeds 2-3
    // consumers — measured 1.33× SLOWER at sf0.1: the presence census
    // is the query's LARGEST relation, so the materialization barrier
    // cost more than the recompute it saved. Left lazy deliberately —
    // the checkpoint trick only pays when the shared frame is small
    // relative to its lineage.)
    val present = docs(s, dir)
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val ns = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = d.agg(count(lit(1)).as("n"))
    val dst = present.groupBy("tok", "source").agg(count(lit(1)).as("d_st"))
    // d_t rides dst (r21, guide §2.4 — "a distinct on data that is
    // already unique"): `present` is distinct on (doc_id, source, tok)
    // and each doc carries exactly one source, so Σ_source d_st IS the
    // per-token doc count — the former `present.select(doc_id, tok)
    // .distinct().groupBy(tok)` chain re-ran the tokenize + explode
    // lineage and paid a second corpus-scale exchange to dedupe rows
    // that were already unique. Were a doc ever to carry two sources,
    // the driver hash fails loudly (the oracle still counts DISTINCT
    // doc_id).
    val dt = dst.groupBy("tok").agg(sum("d_st").as("d_t"))
    def ent(p: org.apache.spark.sql.Column,
        q: org.apache.spark.sql.Column) =
      floor((p.cast("double") / q.cast("double")) *
        log(q.cast("double") / p.cast("double")) *
        lit(1000000000.0) + lit(0.5)).cast("long")
    val hs = ns.crossJoin(broadcast(tot))
      .select(ent(col("n_s"), col("n")).as("t")).agg(sum("t").as("h_s_e9"))
    val hPres = dst.join(dt, "tok")
      .select(col("tok"), ent(col("d_st"), col("d_t")).as("t"))
      .groupBy("tok").agg(sum("t").as("h_pres_e9"))
    val lattice = dt.crossJoin(ns)
      .join(dst, Seq("tok", "source"), "left")
      .withColumn("a_st", col("n_s") - coalesce(col("d_st"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("a_t", col("n") - col("d_t"))
    val hAbs = lattice.filter(col("a_st") > 0L && col("a_t") > 0L)
      .select(col("tok"), ent(col("a_st"), col("a_t")).as("t"))
      .groupBy("tok").agg(sum("t").as("h_abs_e9"))
    dt.crossJoin(broadcast(tot))
      .join(hPres, Seq("tok"), "left")
      .join(hAbs, Seq("tok"), "left")
      .crossJoin(broadcast(hs))
      .select(col("tok"), col("d_t").as("n_docs_with"),
        coalesce(col("h_pres_e9"), lit(0L)).as("h_pres_e9"),
        coalesce(col("h_abs_e9"), lit(0L)).as("h_abs_e9"),
        (col("h_s_e9") -
          Rounding.intDivExact(
            col("d_t").cast("decimal(38,0)") *
              coalesce(col("h_pres_e9"), lit(0L)) +
              (col("n") - col("d_t")).cast("decimal(38,0)") *
                coalesce(col("h_abs_e9"), lit(0L)),
            col("n"))).as("ig_e9"))
      .orderBy(col("ig_e9").desc, col("tok")).limit(20)
  }

  val defs: Map[String, Q] = Map(
    "q352_info_gain" -> (q352 _),
    "q351_kl_drift" -> (q351 _),
    "q349_knee_detection" -> (q349 _),
    "q337_coverage_curve" -> (q337 _),
    "q321_kmv_cardinality" -> (q321 _),
    "q329_kneser_ney" -> (q329 _),
    "q302_source_tvd" -> (q302 _),
    "q230_token_fertility" -> (q230 _),
    "q266_sparse_cosine" -> (q266 _),
    "q278_exclusive_vocab" -> (q278 _),
    "q287_heaps_curve" -> (q287 _),
    "q213_phrase_query" -> (q213 _),
    "q214_zipf_profile" -> (q214 _),
    "q224_vocab_novelty" -> (q224 _),
    "q186_dyadic_histogram" -> (q186 _),
    "q187_length_gini" -> (q187 _),
    "q172_ngram_novelty" -> (q172 _),
    "q114_inverted_index" -> (q114 _),
    "q115_char_entropy" -> (q115 _),
    "q116_winsorize" -> (q116 _),
    "q117_interval_overlap" -> (q117 _),
    "q121_chunk_overlap" -> (q121 _),
    "q138_vocab_overlap" -> (q138 _),
    "q195_vocab_census" -> (q195 _),
    "q209_collocations" -> (q209 _))

  private val fertE4 = (num: String, den: String) =>
    Rounding.intDivExactSql(s"CAST($num AS HUGEINT) * 20000 + $den",
      s"2 * $den")

  val oracle: Map[String, String] = Map(
    // same presence lattice, same per-term e9 entropy floors, same
    // integer-truncated mixture
    "q352_info_gain" -> {
      val mix = Rounding.intDivExactSql(
        "CAST(d_t AS HUGEINT) * coalesce(h_pres_e9, 0) + " +
          "CAST(n - d_t AS HUGEINT) * coalesce(h_abs_e9, 0)", "n")
      s"""WITH d AS (SELECT doc_id, source FROM documents),
        |present AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |        AS tok
        |    FROM documents) WHERE tok <> ''),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |       FROM d GROUP BY source),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |dst AS (SELECT tok, source, CAST(count(*) AS BIGINT) AS d_st
        |        FROM present GROUP BY 1, 2),
        |dt AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS d_t
        |       FROM present GROUP BY tok),
        |hs AS (
        |  SELECT CAST(sum(CAST(floor(
        |      (CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(n_s AS DOUBLE)) *
        |      1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_s_e9
        |  FROM ns, tot),
        |hp AS (
        |  SELECT dst.tok, CAST(sum(CAST(floor(
        |      (CAST(d_st AS DOUBLE) / CAST(d_t AS DOUBLE)) *
        |      ln(CAST(d_t AS DOUBLE) / CAST(d_st AS DOUBLE)) *
        |      1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_pres_e9
        |  FROM dst JOIN dt USING (tok) GROUP BY dst.tok),
        |lat AS (
        |  SELECT dt.tok, dt.d_t, ns.n_s, tot.n,
        |    ns.n_s - coalesce(dst.d_st, 0) AS a_st,
        |    tot.n - dt.d_t AS a_t
        |  FROM dt CROSS JOIN ns
        |  LEFT JOIN dst ON dst.tok = dt.tok AND dst.source = ns.source
        |  CROSS JOIN tot),
        |ha AS (
        |  SELECT tok, CAST(sum(CAST(floor(
        |      (CAST(a_st AS DOUBLE) / CAST(a_t AS DOUBLE)) *
        |      ln(CAST(a_t AS DOUBLE) / CAST(a_st AS DOUBLE)) *
        |      1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_abs_e9
        |  FROM lat WHERE a_st > 0 AND a_t > 0 GROUP BY tok),
        |fin AS (
        |  SELECT dt.tok, dt.d_t, tot.n,
        |    coalesce(hp.h_pres_e9, 0) AS h_pres_e9,
        |    coalesce(ha.h_abs_e9, 0) AS h_abs_e9, hs.h_s_e9
        |  FROM dt CROSS JOIN tot
        |  LEFT JOIN hp ON hp.tok = dt.tok
        |  LEFT JOIN ha ON ha.tok = dt.tok
        |  CROSS JOIN hs)
        |SELECT tok, d_t AS n_docs_with, h_pres_e9, h_abs_e9,
        |  h_s_e9 - ($mix) AS ig_e9
        |FROM fin ORDER BY ig_e9 DESC, tok LIMIT 20""".stripMargin
    },
    // same smoothed lattice, identical double chain, per-term e9 floor
    "q351_kl_drift" ->
      """WITH toks AS (
        |  SELECT source, tok FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |        AS tok
        |    FROM documents) WHERE tok <> ''),
        |ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_t
        |       FROM toks GROUP BY tok),
        |cst AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
        |        FROM toks GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |       FROM toks GROUP BY source),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS v FROM ct),
        |lat AS (
        |  SELECT ns.source, ns.n_s, ct.tok, ct.c_t,
        |    coalesce(cst.c_st, 0) AS c, tot.n, tot.v
        |  FROM ns CROSS JOIN ct
        |  LEFT JOIN cst ON cst.source = ns.source AND cst.tok = ct.tok
        |  CROSS JOIN tot),
        |terms AS (
        |  SELECT source, n_s,
        |    CAST(floor(((CAST(c + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))
        |      * ln((CAST(c + 1 AS DOUBLE) * CAST(n AS DOUBLE)) /
        |          (CAST(n_s + v AS DOUBLE) * CAST(c_t AS DOUBLE))))
        |      * 1000000000.0 + 0.5) AS BIGINT) AS term_e9
        |  FROM lat)
        |SELECT source, n_s AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(term_e9) AS BIGINT) AS kl_e9
        |FROM terms GROUP BY source, n_s ORDER BY source""".stripMargin,
    // same chord, same integer cross product, smallest-k ties
    "q349_knee_detection" ->
      """WITH counts AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |    '\s+')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |cum AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
        |      AS k,
        |    CAST(sum(c) OVER (ORDER BY c DESC, tok
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM counts),
        |ends AS (
        |  SELECT CAST(max(k) AS BIGINT) AS kk,
        |    CAST(min_by(cum, k) AS BIGINT) AS c1,
        |    CAST(max_by(cum, k) AS BIGINT) AS ck
        |  FROM cum),
        |sc AS (
        |  SELECT k, cum, kk,
        |    abs(CAST(kk - 1 AS HUGEINT) * (cum - c1)
        |      - CAST(k - 1 AS HUGEINT) * (ck - c1)) AS cr
        |  FROM cum, ends)
        |SELECT k AS k_knee, cum AS cum_at_knee, kk AS n_points,
        |  CAST(cr AS BIGINT) AS cross_max
        |FROM sc ORDER BY cr DESC, k LIMIT 1""".stripMargin,
    // same (count desc, token) order, ceil-exact integer thresholds
    "q337_coverage_curve" -> {
      val cov = Rounding.intDivExactSql(
        "CAST(cum AS HUGEINT) * 2000000 + total", "2 * total")
      s"""WITH counts AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |    '\\s+')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |cum AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
        |      AS k,
        |    CAST(sum(c) OVER (ORDER BY c DESC, tok
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM counts),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
        |th AS (SELECT unnest([50, 90, 99]) AS threshold_pct),
        |hit AS (
        |  SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct,
        |    min_by(k, k) AS k_types, min_by(cum, k) AS cum,
        |    any_value(total) AS total
        |  FROM cum, tot, th
        |  WHERE cum * 100 >= threshold_pct * total
        |  GROUP BY 1)
        |SELECT threshold_pct, k_types, $cov AS covered_e6
        |FROM hit ORDER BY threshold_pct""".stripMargin
    },
    // same distinct-token u32 multiset, same k-th minimum, same integer
    // estimator — ties among equal u resolve to the same k-th VALUE
    "q321_kmv_cardinality" -> {
      val err = Rounding.intDivExactSql(
        "CAST(abs(kmv_est - n_exact) AS HUGEINT) * 20000 + n_exact",
        "2 * n_exact")
      s"""WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
        |    unnest(generate_series(1,
        |      len(string_split_regex(lower(trim(text)), '\\s+')))) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT source, tok || ' ' ||
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok
        |  FROM toks),
        |st AS (SELECT DISTINCT source, tok FROM bg WHERE tok IS NOT NULL),
        |u AS (
        |  SELECT source, tok, ${graft.functions.Hashing.md5U32Sql("tok")}
        |    AS u FROM st),
        |rn AS (
        |  SELECT source, u,
        |    row_number() OVER (PARTITION BY source ORDER BY u) AS rn
        |  FROM u),
        |agg AS (
        |  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact
        |  FROM st GROUP BY source),
        |kth AS (
        |  SELECT source, CAST(max(u) AS BIGINT) AS kth_u32,
        |    count(*) AS nk
        |  FROM rn WHERE rn <= 32 GROUP BY source),
        |est AS (
        |  SELECT a.source, a.n_exact, k.kth_u32,
        |    CAST(31 * 4294967296 // kth_u32 AS BIGINT) AS kmv_est
        |  FROM agg a JOIN kth k ON a.source = k.source
        |  WHERE k.nk >= 32)
        |SELECT source, n_exact, kth_u32, kmv_est, $err AS err_e4
        |FROM est ORDER BY source""".stripMargin
    },
    // same per-doc lead bigrams, same distinct-context census, same
    // (n_left_types DESC, token) top-50
    "q329_kneser_ney" -> {
      val p = Rounding.intDivExactSql(
        "CAST(n_left_types AS HUGEINT) * 2000000 + n_types", "2 * n_types")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
         |    unnest(generate_series(1,
         |      len(string_split_regex(lower(trim(text)), '\\s+')))) AS pos
         |  FROM documents),
         |bg AS (
         |  SELECT tok AS w1,
         |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM toks),
         |bgn AS (SELECT w1, w2 FROM bg WHERE w2 IS NOT NULL),
         |types AS (SELECT DISTINCT w1, w2 FROM bgn),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM types),
         |per AS (
         |  SELECT b.w2 AS token, CAST(count(*) AS BIGINT) AS freq
         |  FROM bgn b GROUP BY 1),
         |lefts AS (
         |  SELECT w2 AS token, CAST(count(*) AS BIGINT) AS n_left_types
         |  FROM types GROUP BY 1)
         |SELECT per.token, freq, n_left_types, $p AS p_cont_e6
         |FROM per JOIN lefts ON per.token = lefts.token, tot
         |ORDER BY n_left_types DESC, per.token LIMIT 50""".stripMargin
    },
    // same top-200 vocab gate, same cross-join zero-fill, same one
    // exact rational per pair half-up on the e6 grid
    "q302_source_tvd" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT source, tok FROM toks WHERE tok <> ''),
        |vocab AS (SELECT tok FROM (
        |  SELECT tok, count(*) AS c FROM tf GROUP BY tok
        |  ORDER BY c DESC, tok LIMIT 200)),
        |counts AS (
        |  SELECT source, tok, count(*) AS n
        |  FROM tf JOIN vocab USING (tok) GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |grid AS (
        |  SELECT s.source, v.tok, COALESCE(c.n, 0) AS n
        |  FROM srcs s CROSS JOIN vocab v
        |  LEFT JOIN counts c ON c.source = s.source AND c.tok = v.tok),
        |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t
        |        FROM grid GROUP BY source),
        |cells AS (SELECT g.source, g.tok, g.n, t.t
        |          FROM grid g JOIN tot t USING (source)),
        |p AS (
        |  SELECT a.tok, a.source AS src_a, b.source AS src_b,
        |    a.n AS na, a.t AS ta, b.n AS nb, b.t AS tb
        |  FROM cells a JOIN cells b
        |    ON a.tok = b.tok AND a.source < b.source),
        |agg AS (
        |  SELECT src_a, src_b, min(ta) AS ta, min(tb) AS tb,
        |    sum(abs(CAST(na AS HUGEINT) * tb - CAST(nb AS HUGEINT) * ta))
        |      AS num
        |  FROM p GROUP BY 1, 2)
        |SELECT src_a, src_b, ta AS tokens_a, tb AS tokens_b,
        |  CASE WHEN ta > 0 AND tb > 0 THEN
        |    CAST((num * 1000000 + CAST(ta AS HUGEINT) * tb)
        |      // (2 * CAST(ta AS HUGEINT) * tb) AS BIGINT)
        |  ELSE NULL END AS tvd_e6
        |FROM agg ORDER BY src_a, src_b""".stripMargin,
    // first-sighting aggregation on gram TEXT (hash ≡ text, the q41
    // argument), same ten checkpoints
    "q287_heaps_curve" ->
      """WITH b AS (SELECT max(doc_id) AS mx FROM documents),
        |cps AS (
        |  SELECT unnest(generate_series(1, 10)) * (mx + 1) // 10
        |    AS cp_docs
        |  FROM b),
        |toks0 AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |  FROM toks0 WHERE len(t) >= 3),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gr
        |  FROM idx),
        |firsts AS (SELECT gr, min(doc_id) AS first_doc FROM g GROUP BY gr),
        |vocab AS (
        |  SELECT cp_docs, count(*) AS cum_vocab
        |  FROM firsts, cps WHERE first_doc < cp_docs GROUP BY 1),
        |tk AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tc
        |  FROM documents),
        |tt AS (
        |  SELECT cp_docs, CAST(sum(tc) AS BIGINT) AS cum_tokens
        |  FROM tk, cps WHERE doc_id < cp_docs GROUP BY 1)
        |SELECT tt.cp_docs, cum_tokens, cum_vocab
        |FROM tt JOIN vocab USING (cp_docs)
        |ORDER BY cp_docs""".stripMargin,
    // same distinct (source, gram) relation, same e4 rational share
    "q278_exclusive_vocab" -> {
      import Rounding.intDivExactSql
      val share = intDivExactSql(
        "CAST(n_exclusive AS HUGEINT) * 20000 + n_grams", "2 * n_grams")
      s"""WITH toks AS (
        |  SELECT source,
        |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS i
        |  FROM toks WHERE len(t) >= 3),
        |g AS (
        |  SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS gram
        |  FROM idx),
        |spread AS (
        |  SELECT gram, count(DISTINCT source) AS n_sources
        |  FROM g GROUP BY gram),
        |agg AS (
        |  SELECT g.source, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_exclusive
        |  FROM g JOIN spread ON g.gram = spread.gram
        |  GROUP BY g.source)
        |SELECT source, n_grams, n_exclusive, $share AS exclusive_e4
        |FROM agg ORDER BY source""".stripMargin
    },
    // same integer weights, HUGEINT sums, identical final double ops
    "q266_sparse_cosine" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |  FROM toks WHERE len(t) >= 3),
        |inst AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS tok
        |  FROM idx),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM inst GROUP BY 1, 2),
        |dfg AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |  HAVING count(*) BETWEEN 2 AND 100),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |w AS (
        |  SELECT doc_id, tf.tok,
        |    tf * CAST(floor(10000.0 * (nd - df + 0.5) / (df + 0.5) + 0.5)
        |      AS BIGINT) AS w
        |  FROM tf JOIN dfg ON tf.tok = dfg.tok, nd),
        |norms AS (
        |  SELECT doc_id, CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE)
        |    AS n2
        |  FROM w GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(sum(CAST(a.w AS HUGEINT) * b.w) AS DOUBLE) AS dot
        |  FROM w a JOIN w b
        |    ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(floor(1000000.0 * dot / (sqrt(na.n2) * sqrt(nb.n2)) + 0.5)
        |    AS BIGINT) AS cos_e6
        |FROM dots
        |JOIN norms na ON dots.doc_a = na.doc_id
        |JOIN norms nb ON dots.doc_b = nb.doc_id
        |ORDER BY cos_e6 DESC, doc_a, doc_b
        |LIMIT 100""".stripMargin,
    // q45's regex (DuckDB spelling with doubled quotes), HUGEINT exact
    // rational rounding mirrors intDivExact
    "q230_token_fertility" ->
      s"""WITH per AS (
        |  SELECT lang, source,
        |    CAST(len(regexp_extract_all(text,
        |      ${TextAnalysis.bpePiecePatternSql}))
        |      AS BIGINT) AS bpe,
        |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents),
        |agg AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(bpe) AS BIGINT) AS n_bpe,
        |    CAST(sum(ws) AS BIGINT) AS n_ws,
        |    CAST(sum(chars) AS BIGINT) AS n_chars
        |  FROM per GROUP BY 1, 2)
        |SELECT lang, source, n_docs, n_bpe, n_ws, n_chars,
        |  ${fertE4("n_bpe", "n_ws")} AS fertility_e4,
        |  ${fertE4("n_chars", "n_bpe")} AS chars_per_tok_e4
        |FROM agg ORDER BY lang, source""".stripMargin,
    // deliberately NOT the posting-intersection form: the oracle scans
    // every position directly, so it independently re-derives what the
    // engine's filtered-postings merge must equal
    "q213_phrase_query" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, i
        |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
        |  WHERE t[CAST(i AS INT)] = 'query'
        |    AND t[CAST(i + 1 AS INT)] = 'big'
        |    AND t[CAST(i + 2 AS INT)] = 'part')
        |SELECT doc_id, count(*) AS n_matches,
        |  CAST(min(i) - 1 AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q224_vocab_novelty" -> {
      import Rounding.intDivExactSql
      s"""WITH flags AS (
        |  SELECT source, tok,
        |    max(CAST(doc_id % 2 = 0 AS INT)) AS has_a,
        |    max(CAST(doc_id % 2 = 1 AS INT)) AS has_b
        |  FROM (
        |    SELECT doc_id, source,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        |        AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT source,
        |    CAST(sum(has_a) AS BIGINT) AS n_vocab_a,
        |    CAST(sum(has_b) AS BIGINT) AS n_vocab_b,
        |    CAST(sum(CASE WHEN has_b = 1 AND has_a = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM flags GROUP BY 1)
        |SELECT source, n_vocab_a, n_vocab_b, n_new,
        |  CASE WHEN n_vocab_b = 0 THEN 0 ELSE
        |    ${intDivExactSql("CAST(n_new AS HUGEINT) * 1000000",
           "n_vocab_b")} END AS novelty_e6
        |FROM r ORDER BY source""".stripMargin
    },
    // the oracle's row_number() OVER (ORDER BY) is the single-task form
    // GlobalRank exists to replace — same total order, same ranks
    "q214_zipf_profile" ->
      """WITH uni AS (
        |  SELECT tok, count(*) AS freq
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |          '\s+')) AS tok FROM documents)
        |  GROUP BY tok),
        |r AS (SELECT tok, freq,
        |    CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT)
        |      AS rank
        |  FROM uni),
        |d AS (SELECT * FROM r WHERE (rank & (rank - 1)) = 0)
        |SELECT a.rank, a.tok, a.freq,
        |  coalesce(CAST(CAST(a.freq AS HUGEINT) * 1000000 // b.freq
        |    AS BIGINT), 0) AS zipf_ratio_e6
        |FROM d a LEFT JOIN d b ON b.rank = a.rank * 2
        |ORDER BY a.rank""".stripMargin,
    "q209_collocations" -> {
      import Rounding.intDivExactSql
      s"""WITH toks AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        |  FROM documents),
        |p AS (
        |  SELECT t[i] AS tok_a, t[i + 1] AS tok_b
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        |  WHERE len(t) >= 2),
        |bi AS (
        |  SELECT tok_a, tok_b, count(*) AS n_ab FROM p
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |uni AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(t) AS tok FROM toks)
        |  WHERE tok <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni)
        |SELECT bi.tok_a, bi.tok_b, bi.n_ab,
        |  ${intDivExactSql(
           "CAST(bi.n_ab AS HUGEINT) * n_total * 1000000",
           "CAST(ua.c AS HUGEINT) * ub.c")} AS pmi_e6
        |FROM bi
        |JOIN uni ua ON bi.tok_a = ua.tok
        |JOIN uni ub ON bi.tok_b = ub.tok
        |CROSS JOIN tot
        |ORDER BY pmi_e6 DESC, tok_a, tok_b LIMIT 50""".stripMargin
    },
    "q195_vocab_census" -> {
      import Rounding.intDivExactSql
      s"""WITH raw AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT source, tok, count(*) AS c FROM raw
        |  WHERE tok <> '' GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab_size,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  ${intDivExactSql(
             "CAST(count(*) AS HUGEINT) * 1000000", "sum(c)")}
        |    AS type_token_e6,
        |  ${intDivExactSql(
             "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT) " +
               "* 1000000", "count(*)")}
        |    AS hapax_share_e6
        |FROM tf GROUP BY source ORDER BY source""".stripMargin
    },
    "q186_dyadic_histogram" -> {
      val cases = (0 until 20).map(b =>
        s"WHEN n_chars >= ${1L << b} AND n_chars < ${1L << (b + 1)} THEN $b")
        .mkString("\n|    ")
      s"""SELECT source,
        |  CAST(CASE WHEN n_chars < 1 THEN -1
        |    $cases
        |    ELSE 20 END AS BIGINT) AS bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q187_length_gini" ->
      """WITH ranked AS (
        |  SELECT source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS i
        |  FROM documents),
        |a AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT) AS sx,
        |    CAST(sum(CAST(i * n_chars AS DECIMAL(38,0))) AS BIGINT) AS six
        |  FROM ranked GROUP BY 1)
        |SELECT source, n, sx,
        |  CAST((CAST(six AS HUGEINT) * 2 - CAST(sx AS HUGEINT) * (n + 1))
        |    * 1000000 // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_e6
        |FROM a ORDER BY source""".stripMargin,
    "q172_ngram_novelty" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(len(t) - 3 AS BIGINT) AS n_grams, t,
        |    unnest(generate_series(1, len(t) - 3)) AS i
        |  FROM toks WHERE len(t) >= 4),
        |grams AS (
        |  SELECT doc_id, n_grams, array_to_string(t[i:i+3], ' ') AS gram
        |  FROM g),
        |a AS (
        |  SELECT doc_id, n_grams,
        |    CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct
        |  FROM grams GROUP BY 1, 2)
        |SELECT doc_id, n_grams, n_distinct,
        |  ${Rounding.intDivExactSql(
             "CAST(n_distinct AS HUGEINT) * 1000000", "n_grams")}
        |    AS dedup_ratio_e6
        |FROM a ORDER BY doc_id""".stripMargin,
    "q114_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM toks WHERE len(t) >= 3),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
        |          FROM idx),
        |gate AS (SELECT gram, count(*) AS df FROM grams
        |         GROUP BY gram HAVING count(*) BETWEEN 2 AND 20)
        |SELECT gram, df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM grams JOIN gate USING (gram)
        |GROUP BY gram, df ORDER BY gram""".stripMargin,
    "q115_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
        |  FROM documents, unnest(generate_series(1, length(text))) AS g(i)
        |  WHERE length(text) > 0),
        |counts AS (
        |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
        |terms AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor((CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_term
        |  FROM counts GROUP BY doc_id)
        |SELECT doc_id, n AS n_chars_total,
        |  CAST(floor((CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) - sum_term AS entropy_num_e6
        |FROM terms ORDER BY doc_id""".stripMargin,
    "q116_winsorize" ->
      s"""WITH e AS (
         |  SELECT event_type, ${centsSql("value")} AS vc
         |  FROM events WHERE value IS NOT NULL),
         |b AS (
         |  SELECT event_type, quantile_cont(vc, 0.05) AS lo,
         |    quantile_cont(vc, 0.95) AS hi
         |  FROM e GROUP BY event_type),
         |cl AS (
         |  SELECT e.event_type, vc, lo, hi,
         |    CASE WHEN vc < lo THEN CAST(floor(lo + 0.5) AS BIGINT)
         |         WHEN vc > hi THEN CAST(floor(hi + 0.5) AS BIGINT)
         |         ELSE vc END AS c
         |  FROM e JOIN b USING (event_type))
         |SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(vc < lo AS BIGINT)) AS BIGINT) AS n_lo,
         |  CAST(sum(CAST(vc > hi AS BIGINT)) AS BIGINT) AS n_hi,
         |  ${sumCentsSql("c")} AS sum_winsorized_cents
         |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q117_interval_overlap" ->
      s"""WITH clicks AS (
         |  SELECT user_id AS u, min(${centsSql("value")}) AS l_lo,
         |    min(${centsSql("value")}) + 500 AS l_hi
         |  FROM events WHERE event_type = 'click' AND value IS NOT NULL
         |  GROUP BY user_id),
         |buys AS (
         |  SELECT user_id AS v, min(${centsSql("value")}) AS r_lo,
         |    min(${centsSql("value")}) + 800 AS r_hi
         |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
         |  GROUP BY user_id)
         |SELECT u, count(*) AS n_overlap, min(v) AS min_v, max(v) AS max_v
         |FROM clicks JOIN buys ON l_lo < r_hi AND r_lo < l_hi
         |GROUP BY u ORDER BY u""".stripMargin,
    "q121_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) > 0),
        |c AS (
        |  SELECT doc_id, text, len,
        |    unnest(generate_series(0, CASE WHEN len <= 200 THEN 0
        |      ELSE CAST(ceil(CAST(len - 200 AS DOUBLE) / 150) AS INT)
        |      END)) AS chunk_id
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 150 + 1 AS BIGINT) AS start_pos,
        |  CAST(length(substr(text, CAST(chunk_id * 150 + 1 AS INT), 200))
        |    AS BIGINT) AS chunk_len,
        |  md5(substr(text, CAST(chunk_id * 150 + 1 AS INT), 200))
        |    AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q138_vocab_overlap" ->
      """WITH raw AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT source, tok, count(*) AS c FROM raw
        |       WHERE tok <> '' GROUP BY 1, 2),
        |top AS (
        |  SELECT source, tok FROM (
        |    SELECT source, tok, row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, tok) AS rn
        |    FROM tf)
        |  WHERE rn <= 50),
        |sizes AS (SELECT source, count(*) AS n FROM top GROUP BY 1),
        |common AS (
        |  SELECT a.source AS src1, b.source AS src2, count(*) AS n_common
        |  FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS src1, sb.source AS src2,
        |  sa.n AS n_a, sb.n AS n_b,
        |  coalesce(n_common, 0) AS n_common
        |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
        |LEFT JOIN common ON common.src1 = sa.source
        |  AND common.src2 = sb.source
        |ORDER BY src1, src2""".stripMargin)
}
