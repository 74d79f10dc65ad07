package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.Hashing
import graft.functions.Rounding.roundf
import graft.functions.TextAnalysis._
import graft.operators.SessionDirMemo.pin
import graft.operators.CheckpointBlocks.checkpoint

/** Text-analysis extension queries over `documents` (BASELINE.json north
  * star: token counting, quality scoring, language ID, fingerprinting).
  * All per-row expression work — no shuffle except the final ORDER BY. */
object TextQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def q30(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      tokenCount(col("text")).as("n_tokens"),
      roundf(
        length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          greatest(tokenCount(col("text")), lit(1L)).cast("double"),
        4).as("avg_token_len"))
      .orderBy("doc_id")

  /** Engine-agnostic 4-decimal rounding — see [[graft.functions.Rounding]]
    * for why floor-form beats round() for oracle parity. */
  private def r4(c: org.apache.spark.sql.Column) = roundf(c, 4)

  private def q31(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      r4(stopwordRatio(col("text"))).as("stop_ratio"),
      r4(alphaRatio(col("text"))).as("alpha_ratio"),
      r4(least(lit(1.0),
        tokenCount(col("text")).cast("double") / lit(100.0)))
        .as("len_score"),
      r4(qualityScore(col("text"))).as("quality"))
      .orderBy("doc_id")

  private def q32(s: SparkSession, dir: String): DataFrame = {
    val counts = languageProfiles.map { case (code, pat) =>
      matchCount(lower(col("text")), pat).as(s"cnt_$code")
    }
    docs(s, dir).select(
      (Seq(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
        ++ counts): _*)
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — q32 emits the per-doc verdicts; this
    * is the rollup an operator actually reads before trusting the
    * classifier for routing/filtering: per (declared, predicted) cell,
    * the count and its share of the declared language (diagonal share =
    * per-language recall). The corpus' zh docs land visibly in the en
    * column — the stopword heuristic has no zh class and its tie-break
    * defaults to en — which is exactly the blind spot a confusion census
    * exists to surface. Shares are exact e4 rationals
    * ((2·10⁴·n + tot) div 2·tot through intDivExact — no doubles).
    * Shape: one 25-cell aggregate + a per-language total join. */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val cell = docs(s, dir)
      .select(col("lang"), langId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val tot = cell.groupBy("lang").agg(sum("n").as("lang_total"))
    cell.join(tot, "lang")
      .withColumn("share_e4",
        intDivExact(col("n").cast("decimal(38,0)") * lit(20000L) +
          col("lang_total"), lit(2L) * col("lang_total")))
      .select("lang", "lang_pred", "n", "lang_total", "share_e4")
      .orderBy("lang", "lang_pred")
  }

  private def q33(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      substring(fingerprint(col("text")), 1, 8).as("fp8"))
      .orderBy("doc_id")

  /** Order-sensitive rolling fingerprint: Σ position·hash(token) over the
    * token stream (exact in int64 — pos ≤ ~10⁴, hash < 2³²). Unlike the
    * bag-insensitive md5 fingerprint (q33), token reordering changes it. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), posexplode(tokensCol(col("text"))))
      .filter(col("col") =!= "")
      .select(col("doc_id"),
        ((col("pos") + 1) * Hashing.md5U32(col("col"))).as("term"))
      .groupBy("doc_id")
      .agg((sum("term") % lit(1000000007L)).as("rolling_fp"))
      .orderBy("doc_id")

  /** BPE-ish pre-tokenization count (GPT-2-style pattern without the RE2
    * incompatible lookahead): contractions, letter runs, digit runs,
    * punctuation runs. */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val pat = bpePiecePattern  // ONE tokenizer definition (TextAnalysis)
    docs(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
          .as("n_bpe_tokens"),
        tokenCount(col("text")).as("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** TF-IDF top-3 terms per document: term counts per doc, document
    * frequency per term, one window for the per-doc top-k. Shuffles on
    * (doc, tok) then tok — both high-cardinality keys; the single-row doc
    * count broadcasts.
    *
    * The idf is the BM25-style rational form (N − df + 0.5)/(df + 0.5)
    * WITHOUT the log: every op is exact-rounded IEEE arithmetic, so scores
    * (and therefore ranks and rounding) are bit-identical across engines.
    * An ln()-based idf is a one-line swap but Spark codegen uses
    * StrictMath.log while DuckDB uses libm — off-by-one-ulp on real inputs,
    * a latent rank/rounding flake under an exact-compare oracle. The
    * rational form is monotone in df exactly like ln(N/df). */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel tokenize
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"),
        roundf(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 relevance for a fixed 3-term query (the retrieval scorer a
    * training-data curation pipeline uses for quality-by-query filtering;
    * cf. q64's TF-IDF and q114's inverted index). Okapi parameters
    * k1=1.2, b=0.75; idf uses the same log-free rational form as q64 —
    * (N − df + 0.5)/(df + 0.5) — so every op is plain IEEE arithmetic
    * with a cross-engine bit-identical result.
    *
    * Per-term scores are pivoted to columns via conditional max and added
    * in a FIXED textual order (s1+s2+s3): a `sum()` over the term rows
    * would accumulate in partial-aggregation order, which Spark does not
    * pin and DuckDB orders differently — the one float-sum channel this
    * query shape must close. Shuffles on (doc_id, tok) then doc_id; the
    * one-row corpus stats broadcast. At 100 TB the term filter prunes the
    * explode to |query terms| rows per doc before any exchange. */
  private def q129(s: SparkSession, dir: String): DataFrame =
    bm25e6(s, dir).orderBy("doc_id")

  /** The q129 scoring core as a reusable arm — (doc_id, bm25_e6) for the
    * fixed 3-term query, unordered; q194's hybrid fusion ranks it against
    * the vector arm. Memoized per (session, dir) (r20, the jaccardPairs
    * precedent): THREE standalone queries (q129, q194, q333) each re-ran
    * the corpus token explode + the full Okapi chain for a bit-identical
    * doc-grain score table. O(docs) rows, deterministic, checkpoint-safe. */
  private val bm25Memo = new graft.operators.SessionDirMemo[DataFrame]
  private[queries] def bm25e6(s: SparkSession, dir: String): DataFrame =
    bm25Memo.get(s, dir)(pin(bm25e6Build(s, dir)))

  private def bm25e6Build(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("hash", "join", "spark")
    val toks = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel tokenize
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs").cast("double") - col("df").cast("double") +
      lit(0.5)) / (col("df").cast("double") + lit(0.5))
    val denom = col("tf").cast("double") +
      (lit(1.2) * (lit(0.25) + ((lit(0.75) * col("dl").cast("double")) /
        col("avgdl"))))
    val score = (idf * (col("tf").cast("double") * lit(2.2))) / denom
    val scored = tf.join(dfreq, "tok").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"), score.as("score"))
    def termCol(t: String): Column =
      coalesce(max(when(col("tok") === t, col("score"))), lit(0.0))
    scored.groupBy("doc_id")
      .agg(termCol(terms(0)).as("s1"), termCol(terms(1)).as("s2"),
        termCol(terms(2)).as("s3"))
      .select(col("doc_id"),
        // e6-scaled BIGINT, not a rounded double: integer outputs are
        // immune to any engine's FMA/cast/hash treatment of floats (the
        // q73/q74 driver-environment lesson)
        floor((col("s1") + col("s2") + col("s3")) * lit(1000000.0) +
          lit(0.5)).cast("long").as("bm25_e6"))
  }

  /** Flesch–Kincaid readability grade per document, on the exact integer
    * grid — the classic curation signal for audience targeting / quality
    * stratification, de-floated: words are whitespace tokens (the q30
    * convention), sentences are terminal-punctuation runs + 1 (degenerate
    * 1 on this punctuation-free corpus — an honest property of the data,
    * like the other null readings), syllables are vowel-group runs
    * `[aeiouy]+` (the standard heuristic, same regex both engines). The
    * grade 0.39·W/S + 11.8·Syl/W − 15.59 becomes ONE exact rational on
    * the e3 grid: (390·W² + 11800·Syl·S − 15590·W·S)/(W·S) via
    * intDivExact — truncated toward zero rather than half-up because the
    * numerator can be NEGATIVE (both engines' division is
    * dividend-signed, so truncation is bit-agreed; a +0.5 trick is not).
    * Pure per-row expression work, zero shuffles before the ORDER BY. */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    docs(s, dir)
      .select(col("doc_id"),
        greatest(tokenCount(col("text")), lit(1L)).as("w"),
        (regexp_count(col("text"), lit("[.!?]+")) + lit(1))
          .cast("long").as("st"),
        regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("long").as("sy"))
      .select(col("doc_id"), col("w").as("n_words"),
        col("st").as("n_sentences"), col("sy").as("n_syllables"),
        intDivExact(
          lit(390L) * col("w").cast("decimal(38,0)") * col("w") +
            lit(11800L) * col("sy").cast("decimal(38,0)") * col("st") -
            lit(15590L) * col("w").cast("decimal(38,0)") * col("st"),
          col("w").cast("decimal(38,0)") * col("st")).as("fk_e3"))
      .orderBy("doc_id")
  }

  /** Blocklist phrase census — the dictionary-filter stage every corpus
    * pipeline runs (banned phrases, boilerplate markers, license
    * strings), in the shape that survives 100 TB: positional word
    * bigrams (duplicates KEPT — unlike the shingle miners, occurrence
    * counts are the deliverable) equi-joined against a BROADCAST phrase
    * dimension, never a per-phrase LIKE scan (p phrases × n docs regex
    * passes) — one corpus pass total, phrases pruned at the join. Zero-
    * hit phrases survive via the left join from the dimension (a silent
    * drop would read as "clean corpus" when the phrase was simply
    * mistyped). doc_share_e4 is the exact e4 rational of hit docs over
    * the corpus. */
  private def q296(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val spark = s
    import spark.implicits._
    val phrases = Seq("fast slow", "key agg", "slow scan",
      "spark window", "table table", "value part").toDF("phrase")
    val grams = docs(s, dir)
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat_ws(' ', slice(t, i, 2)))")).as("gram"))
    val hits = grams
      .join(broadcast(phrases), col("gram") === col("phrase"))
      .groupBy("phrase")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_hits"))
    val n = docs(s, dir).agg(count(lit(1)).as("nd"))
    phrases.join(hits, Seq("phrase"), "left")
      .crossJoin(broadcast(n))
      .select(col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        intDivExact(
          coalesce(col("n_docs"), lit(0L)).cast("decimal(38,0)") *
            lit(20000L) + col("nd"),
          lit(2L) * col("nd")).as("doc_share_e4"))
      .orderBy("phrase")
  }

  /** Tokenizer coverage audit — "does the pre-tokenizer consume every
    * character it should": remove every q45 BPE-ish piece from the text
    * (one replace-all pass; matched spans vanish) and measure what
    * survives. A lossless tokenizer leaves ONLY inter-token whitespace;
    * any surviving non-whitespace character is tokenizer DAMAGE — text
    * the downstream model simply never sees (the silent-data-loss bug
    * class tokenizer migrations keep reintroducing). Emits per doc the
    * exact consumed/residual char counts and the fully_covered verdict.
    * Pure per-row regex work, both engines running the identical
    * pattern with replace-all semantics (the q45 parity argument). */
  private def q318(s: SparkSession, dir: String): DataFrame = {
    val pat = bpePiecePattern  // ONE tokenizer definition (TextAnalysis)
    docs(s, dir)
      .withColumn("residual", regexp_replace(col("text"), pat, ""))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) - length(col("residual"))).cast("long")
          .as("covered_chars"),
        length(regexp_replace(col("residual"), "\\s", "")).cast("long")
          .as("damaged_chars"))
      .withColumn("fully_covered",
        (col("damaged_chars") === 0L).cast("long"))
      .orderBy("doc_id")
  }

  /** Pseudo-relevance-feedback expansion (Rocchio-lite) — the retrieval
    * loop q129's one-shot BM25 can't close: take the top-10 BM25 docs
    * as the pseudo-relevant set R, mine R for the 3 most R-specific
    * terms (presence-in-R weighted by corpus rarity, w = df_R·10⁶ div
    * df_corpus, original query terms excluded), then rerank the
    * retrieved set with an integer occurrence bonus per expansion term.
    * The bonus is a SUM OF INTEGERS — order-free by construction, so
    * the dynamic (data-dependent) term set never reopens the
    * float-accumulation-order channel q129 had to close for its fixed
    * terms. Deterministic ties at every stage (score desc, id/token
    * asc). Scale: R is 10 rows, the expansion set 3 rows (both
    * broadcast); the only corpus-scale work is the (doc, token)
    * presence census the BM25 arm already does, and the final top-20 is
    * a TakeOrdered, with rank assigned by a window over those 20 rows
    * only. */
  private def q333(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.intDiv
    val origTerms = Seq("hash", "join", "spark")
    // localCheckpoint (r20, guide §1.2): the (doc, token) presence
    // census feeds three consumers (df_R, df_corpus, the bonus join) —
    // lazily planned, the tokenize + explode + distinct ran three
    // times. (The BM25 table itself is the memoized [[bm25e6]].) One
    // row per (doc, distinct token) — corpus-bounded, checkpoint-safe.
    val base = bm25e6(s, dir)
    val top10 = base.orderBy(col("bm25_e6").desc, col("doc_id"))
      .limit(10).select("doc_id")
    val docTok = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel tokenize
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "").distinct()
      .transform(checkpoint)
    val expansion = docTok.join(broadcast(top10), "doc_id")
      .groupBy("tok").agg(count(lit(1)).as("df_r"))
      .join(docTok.groupBy("tok").agg(count(lit(1)).as("df_all")), "tok")
      .filter(!col("tok").isin(origTerms: _*))
      .withColumn("w_e6", intDiv(col("df_r") * lit(1000000L),
        col("df_all")))
      .orderBy(col("w_e6").desc, col("tok")).limit(3)
      .select("tok", "w_e6")
    val bonus = docTok.join(broadcast(expansion), "tok")
      .groupBy("doc_id").agg(sum("w_e6").as("bonus_e6"))
    base.join(bonus, Seq("doc_id"), "left")
      .withColumn("bonus_e6", coalesce(col("bonus_e6"), lit(0L)))
      .withColumn("prf_e6", col("bm25_e6") + col("bonus_e6"))
      .orderBy(col("prf_e6").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("prf_e6").desc, col("doc_id")))
        .cast("long"))
      .select("rank", "doc_id", "bm25_e6", "bonus_e6", "prf_e6")
      .orderBy("rank")
  }

  val defs: Map[String, Q] = Map(
    "q333_prf_expansion" -> (q333 _),
    "q295_readability" -> (q295 _),
    "q296_blocklist" -> (q296 _),
    "q318_tokenizer_coverage" -> (q318 _),
    "q30_text_stats" -> (q30 _),
    "q31_text_quality" -> (q31 _),
    "q32_text_langid" -> (q32 _),
    "q238_lang_confusion" -> (q238 _),
    "q33_fingerprint" -> (q33 _),
    "q39_rolling_fp" -> (q39 _),
    "q45_bpe_tokens" -> (q45 _),
    "q64_tfidf" -> (q64 _),
    "q129_bm25" -> (q129 _))

  // DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
  val oracle: Map[String, String] = Map(
    // same BM25 chain, same top-10 R set, same rarity-weighted expansion
    // terms and integer occurrence bonus
    "q333_prf_expansion" ->
      s"""WITH $bm25Ctes,
        |top10 AS (
        |  SELECT doc_id FROM bm25
        |  ORDER BY bm25_e6 DESC, doc_id LIMIT 10),
        |doctok AS (SELECT DISTINCT doc_id, tok FROM toks),
        |dfr AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS df_r
        |  FROM doctok JOIN top10 USING (doc_id) GROUP BY tok),
        |dfa AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS df_all
        |  FROM doctok GROUP BY tok),
        |exp AS (
        |  SELECT dfr.tok, CAST(df_r * 1000000 // df_all AS BIGINT) AS w_e6
        |  FROM dfr JOIN dfa USING (tok)
        |  WHERE dfr.tok NOT IN ('hash', 'join', 'spark')
        |  ORDER BY w_e6 DESC, dfr.tok LIMIT 3),
        |bonus AS (
        |  SELECT doc_id, CAST(sum(w_e6) AS BIGINT) AS bonus_e6
        |  FROM doctok JOIN exp USING (tok) GROUP BY doc_id),
        |rr AS (
        |  SELECT b.doc_id, b.bm25_e6,
        |    coalesce(bonus.bonus_e6, 0) AS bonus_e6,
        |    b.bm25_e6 + coalesce(bonus.bonus_e6, 0) AS prf_e6
        |  FROM bm25 b LEFT JOIN bonus ON b.doc_id = bonus.doc_id
        |  ORDER BY prf_e6 DESC, b.doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY prf_e6 DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, bm25_e6, CAST(bonus_e6 AS BIGINT) AS bonus_e6,
        |  CAST(prf_e6 AS BIGINT) AS prf_e6
        |FROM rr ORDER BY rank""".stripMargin,
    // same piece pattern, replace-all residual, whitespace-only verdict
    "q318_tokenizer_coverage" ->
      s"""WITH r AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    regexp_replace(text,
        |      ${bpePiecePatternSql},
        |      '', 'g') AS residual
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(n_chars - length(residual) AS BIGINT) AS covered_chars,
        |  CAST(length(regexp_replace(residual, '\\s', '', 'g')) AS BIGINT)
        |    AS damaged_chars,
        |  CAST(length(regexp_replace(residual, '\\s', '', 'g')) = 0
        |    AS BIGINT) AS fully_covered
        |FROM r ORDER BY doc_id""".stripMargin,
    // same W/S/Syl regex counts, same single-rational FK through HUGEINT
    // (// truncates toward zero, dividend-signed — matches intDivExact)
    "q295_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    greatest(len(regexp_extract_all(text, '\S+')), 1) AS w,
        |    len(regexp_extract_all(text, '[.!?]+')) + 1 AS st,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
        |  CAST(st AS BIGINT) AS n_sentences,
        |  CAST(sy AS BIGINT) AS n_syllables,
        |  CAST((390 * CAST(w AS HUGEINT) * w
        |      + 11800 * CAST(sy AS HUGEINT) * st
        |      - 15590 * CAST(w AS HUGEINT) * st)
        |    // (CAST(w AS HUGEINT) * st) AS BIGINT) AS fk_e3
        |FROM f ORDER BY doc_id""".stripMargin,
    // positional bigrams (duplicates kept), same literal phrase list,
    // left join keeps zero-hit phrases, exact e4 doc share
    "q296_blocklist" -> {
      import graft.functions.Rounding.intDivExactSql
      val share = intDivExactSql(
        "CAST(COALESCE(n_docs, 0) AS HUGEINT) * 20000 + nd", "2 * nd")
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |bl AS (SELECT unnest(['fast slow', 'key agg', 'slow scan',
        |  'spark window', 'table table', 'value part']) AS phrase),
        |hit AS (
        |  SELECT phrase, count(DISTINCT doc_id) AS n_docs,
        |    count(*) AS n_hits
        |  FROM g JOIN bl ON gram = phrase GROUP BY phrase),
        |n AS (SELECT count(*) AS nd FROM documents)
        |SELECT bl.phrase,
        |  CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
        |  $share AS doc_share_e4
        |FROM bl LEFT JOIN hit USING (phrase) CROSS JOIN n
        |ORDER BY bl.phrase""".stripMargin
    },
    // q32's CASE verdicts rolled to cells; HUGEINT exact e4 shares
    "q238_lang_confusion" -> {
      import graft.functions.Rounding.intDivExactSql
      val share = intDivExactSql(
        "CAST(n AS HUGEINT) * 20000 + lang_total", "2 * lang_total")
      s"""WITH c AS (
        |  SELECT lang,
        |    len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|in|is|it)\\b')) AS cnt_en,
        |    len(regexp_extract_all(lower(text), '\\b(el|la|de|que|y|en|los|un)\\b')) AS cnt_es,
        |    len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|ein|nicht)\\b')) AS cnt_de,
        |    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une|dans)\\b')) AS cnt_fr
        |  FROM documents),
        |v AS (
        |  SELECT lang,
        |    CASE WHEN cnt_en >= cnt_es AND cnt_en >= cnt_de AND cnt_en >= cnt_fr THEN 'en'
        |         WHEN cnt_es >= cnt_de AND cnt_es >= cnt_fr THEN 'es'
        |         WHEN cnt_de >= cnt_fr THEN 'de'
        |         ELSE 'fr' END AS lang_pred
        |  FROM c),
        |cell AS (
        |  SELECT lang, lang_pred, count(*) AS n
        |  FROM v GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
        |  FROM cell GROUP BY lang)
        |SELECT cell.lang, lang_pred, n, lang_total,
        |  $share AS share_e4
        |FROM cell JOIN tot ON cell.lang = tot.lang
        |ORDER BY cell.lang, lang_pred""".stripMargin
    },
    "q30_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_calc,
        |  len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |  floor((CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |         CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE))
        |        * 10000.0 + 0.5) / 10000.0 AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_text_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is|it)\b')) AS DOUBLE) AS stops,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS toks,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
        |    CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents)
        |SELECT doc_id,
        |  floor((stops / greatest(toks, 1)) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
        |  floor((alpha / greatest(chars, 1)) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
        |  floor(least(1.0, toks / 100.0) * 10000.0 + 0.5) / 10000.0 AS len_score,
        |  floor((0.4 * (stops / greatest(toks, 1)) +
        |         0.3 * (alpha / greatest(chars, 1)) +
        |         0.3 * least(1.0, toks / 100.0)) * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "q32_text_langid" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is|it)\b')) AS cnt_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|un)\b')) AS cnt_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein|nicht)\b')) AS cnt_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans)\b')) AS cnt_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN cnt_en >= cnt_es AND cnt_en >= cnt_de AND cnt_en >= cnt_fr THEN 'en'
        |       WHEN cnt_es >= cnt_de AND cnt_es >= cnt_fr THEN 'es'
        |       WHEN cnt_de >= cnt_fr THEN 'de'
        |       ELSE 'fr' END AS lang_pred,
        |  cnt_en, cnt_es, cnt_de, cnt_fr
        |FROM c ORDER BY doc_id""".stripMargin,
    "q33_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8) AS fp8
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q39_rolling_fp" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        |  FROM documents),
        |p AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM toks),
        |terms AS (
        |  SELECT doc_id,
        |    pos * ${Hashing.md5U32Sql("t[pos]")} AS term
        |  FROM p WHERE t[pos] <> '')
        |SELECT doc_id, CAST(sum(term) % 1000000007 AS BIGINT) AS rolling_fp
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q45_bpe_tokens" ->
      s"""SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    ${bpePiecePatternSql})) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q64_tfidf" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |toks AS (SELECT doc_id, tok FROM raw WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tok,
        |    CAST(tf.tf AS DOUBLE) *
        |      (CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) /
        |      (CAST(df.df AS DOUBLE) + 0.5) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, tok, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, tok) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, tok,
        |  floor((score) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // Identical arithmetic structure to the Spark side (idf rational form,
    // fixed-order s1+s2+s3 sum) — see q129's scaladoc.
    "q129_bm25" ->
      s"""WITH $bm25Ctes
        |SELECT doc_id, bm25_e6 FROM bm25 ORDER BY doc_id""".stripMargin)

  /** Oracle CTE chain ending in `bm25(doc_id, bm25_e6)` — the DuckDB twin
    * of [[bm25e6]], shared by q129 and q194's lexical fusion arm (no
    * leading WITH). A `def`, not a `val`: the `oracle` map above
    * interpolates it during object init, and a later-declared val would
    * still be null at that point. */
  private[queries] def bm25Ctes: String =
    """raw AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |toks AS (SELECT doc_id, tok FROM raw WHERE tok <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs,
      |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
      |  WHERE tok IN ('hash', 'join', 'spark') GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok,
      |    (((CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) /
      |       (CAST(df.df AS DOUBLE) + 0.5)) *
      |     (CAST(tf.tf AS DOUBLE) * 2.2)) /
      |    (CAST(tf.tf AS DOUBLE) +
      |     (1.2 * (0.25 + ((0.75 * CAST(dl.dl AS DOUBLE)) / avgdl))))
      |      AS score
      |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
      |  CROSS JOIN stats),
      |p AS (
      |  SELECT doc_id,
      |    coalesce(max(CASE WHEN tok = 'hash' THEN score END), 0.0) AS s1,
      |    coalesce(max(CASE WHEN tok = 'join' THEN score END), 0.0) AS s2,
      |    coalesce(max(CASE WHEN tok = 'spark' THEN score END), 0.0) AS s3
      |  FROM scored GROUP BY doc_id),
      |bm25 AS (
      |  SELECT doc_id,
      |    CAST(floor((s1 + s2 + s3) * 1000000.0 + 0.5) AS BIGINT)
      |      AS bm25_e6
      |  FROM p)""".stripMargin
}
