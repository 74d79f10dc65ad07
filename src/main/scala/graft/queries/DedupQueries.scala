package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.Hashing
import graft.functions.Rounding.roundf
import graft.functions.TextAnalysis._
import graft.operators.SessionDirMemo.pin
import graft.operators.CheckpointBlocks.checkpoint

/** Deduplication operators for training-data pipelines (BASELINE.json north
  * star): exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, and
  * SimHash — all as shuffle-friendly joins/aggregations with zero driver-side
  * collects, and all with deterministic md5-derived hashing so the DuckDB
  * oracle can mirror them bit-for-bit.
  *
  * 100 TB posture: candidate generation always goes through a key join
  * (fingerprint / shingle / band bucket) — never an all-pairs product — so
  * the shuffles stay proportional to data + candidate volume. Shingle and
  * band keys are high-cardinality, which keeps skew bounded; AQE skew-join
  * handles pathological hot shingles.
  */
object DedupQueries extends QueryPack {

  private val K = 16 // minhash signature length
  private val B = 4  // LSH bands (rows per band = K/B = 4)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** (doc_id, gram) with tokens materialized before the n-gram lambda —
    * see TextAnalysis.tokensCol for why this ordering matters. */
  private def shingleOf(docsDf: DataFrame, n: Int): DataFrame =
    // adaptive fan-out (r20, guide §2.5): tokenize + gram explode fuse
    // onto the one-partition fixture scan; no-op at real split counts.
    graft.operators.ReadParallelism
      .fanOut(docsDf.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(ngramsFromTokens(col("toks"), n)).as("gram"))

  private def shingleDf(s: SparkSession, dir: String, n: Int): DataFrame =
    shingleOf(docs(s, dir), n)

  /** Exact dedup: normalized-text fingerprint, keep min doc_id per group. */
  private def q40(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
      .select(col("doc_id"), col("fp"),
        (col("doc_id") =!= col("keep_id")).cast("int").as("is_dup"))
      .orderBy("doc_id")

  /** Word-5-gram Jaccard near-dup. Pairs come from per-shingle doc-id lists
    * (one aggregation) instead of a shingle self-join, so the shingle set is
    * scanned once, df=1 shingles are dropped losslessly (they contribute to
    * no pair), and a df cap (1000) bounds the worst-case pair fan-out per
    * shingle at scale — a standard stopword-shingle guard; max df in this
    * corpus is 4, so the cap changes nothing here. */
  private val maxDf = 1000
  private def q41(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir).orderBy("doc_a", "doc_b")

  /** (doc_a, doc_b, inter, jaccard) near-dup pairs — shared by q41 (the
    * pair report), q67 (clustering over the pair graph), and the
    * user-facing [[graft.operators.DedupPipeline]] API, whose
    * `nearDupPairs` now carries the implementation (grams shuffled as
    * xxhash64 longs, df gate before any posting buffer, pair expansion
    * from sorted per-gram lists — see its scaladoc for the full 100 TB
    * rationale). The oracle groups on gram TEXT; results agree because
    * hash-equality ≡ text-equality absent 64-bit collisions (negligible
    * at any per-corpus shingle cardinality < 10⁹). */
  /** Memoized per (session, dir) via [[graft.operators.SessionDirMemo]]
    * (two-slot LRU, eager localCheckpoint — see its scaladoc for the
    * retention argument): SEVEN standalone queries (q41/q67/q151/q156/
    * q198/q219/q239) each rebuilt the full shingle→df-gate→pair-mining
    * chain (~1-2s each at sf0.1) for a bit-identical pair table. The
    * table is pair-fan-out-bounded by the df gate (checkpoint-safe by
    * the q108Stages argument); the build is deterministic (sorted
    * collect_set expansion), so every consumer — and the oracle — sees
    * identical rows whether the slot hits or a cold call builds. */
  private val jaccardMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardMemo.get(s, dir) {
      pin(graft.operators.DedupPipeline
        .nearDupPairs(docs(s, dir), "doc_id", "text", n = 5,
          minJaccard = 0.1, maxDf = maxDf)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("inter"), col("jaccard")))
    }

  /** (doc_id, comp) cluster assignment over the q41 pair graph — the CC
    * closure q67/q198/q219 all need, memoized per (session, dir) behind
    * an eager localCheckpoint (the jaccardPairs/identityClusters
    * pattern one stage further down the funnel: three standalone
    * queries each re-ran the O(edges)-per-round closure for
    * bit-identical labels). One row per document — corpus-bounded; the
    * memo holds a projection of the CC result, which is already a
    * checkpoint. */
  private val clusterMemo = new graft.operators.SessionDirMemo[DataFrame]

  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterMemo.get(s, dir) {
      graft.operators.ConnectedComponents
        .components(docs(s, dir).select("doc_id"),
          jaccardPairs(s, dir).select("doc_a", "doc_b"),
          "doc_id", "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp"))
    }

  /** Dedup clustering: connected components over the near-dup pair graph
    * (graft.operators.ConnectedComponents — alternating large/small
    * star). Output is the retention decision itself: every document
    * with its cluster id (min doc_id in its component) and whether it is
    * the canonical keeper. Similarity is NOT transitive, so this is a real
    * closure, not a group-by: A~B and B~C cluster {A,B,C} even when A~C
    * misses the threshold. Closure shared via [[dedupClusters]]. */
  private def q67(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .select(col("doc_id"), col("comp").as("cluster_id"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")

  /** Per-source dedup attrition — the survivorship report a curation
    * run publishes next to its dedup pass ("which feeds are we actually
    * paying for twice?"): a document survives iff it is BOTH its exact
    * fingerprint group's min id AND its near-dup cluster's canonical
    * (the CC label IS the min member id, so canonicality is a free
    * column comparison — no extra window). Drops attribute to the exact
    * stage first (the composed-pipeline order), the near stage takes
    * the remainder, and the e4 drop share rides along. Both shared
    * stages come from the per-(session, dir) memos — this census costs
    * one fingerprint aggregation plus reads of already-checkpointed
    * tables. */
  private def q341(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      fingerprint(col("text")).as("fp"))
    val fpMin = d.groupBy("fp").agg(min("doc_id").as("fp_min"))
    val flags = d.join(fpMin, "fp")
      .join(dedupClusters(s, dir), "doc_id")
      .select(col("source"),
        (col("doc_id") === col("fp_min")).cast("long").as("ke"),
        (col("doc_id") === col("comp")).cast("long").as("kn"))
    flags.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ke") * col("kn")).as("n_kept"),
        sum(lit(1L) - col("ke")).as("n_dropped_exact"),
        sum(col("ke") * (lit(1L) - col("kn"))).as("n_dropped_near"))
      .withColumn("drop_e4", intDivExact(
        (col("n_docs") - col("n_kept")).cast("decimal(38,0)") *
          lit(20000L) + col("n_docs"),
        lit(2L) * col("n_docs")))
      .orderBy("source")
  }

  /** Cluster-transitivity audit — how much of each near-dup cluster is
    * held together by TRANSITIVE glue rather than direct evidence:
    * similarity is not transitive, so a CC cluster of n members rests
    * on as few as n−1 of its C(n,2) possible pairs; per cluster (size
    * ≥ 2) this census reports members, possible pairs, DIRECTLY mined
    * pairs (the ≥ 0.1 Jaccard edges), the exact e4 direct-evidence
    * share, and the weakest/strongest direct link. A low share on a big
    * cluster is the chain-merge smell (crawl mirrors A~B~C~…) that
    * precedes an over-merge incident — the q244 scale observation,
    * quantified per cluster. Reads both shared memos; one join + two
    * aggregations. */
  private def q316(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{intDiv, intDivExact}
    val cl = dedupClusters(s, dir)
    val sizes = cl.groupBy("comp").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2L)
    val intra = jaccardPairs(s, dir)
      .join(cl.select(col("doc_id").as("doc_a"), col("comp")), "doc_a")
      .groupBy("comp")
      .agg(count(lit(1)).as("n_direct"),
        min("jaccard").as("min_jaccard"), max("jaccard").as("max_jaccard"))
    sizes.join(intra, "comp") // every ≥2 cluster has ≥1 mined edge
      .withColumn("n_possible",
        intDiv(col("n_members") * (col("n_members") - 1L), lit(2L)))
      .select(col("comp").as("cluster_id"), col("n_members"),
        col("n_possible"), col("n_direct"),
        intDivExact(
          col("n_direct").cast("decimal(38,0)") * lit(20000L) +
            col("n_possible"),
          lit(2L) * col("n_possible")).as("direct_share_e4"),
        col("min_jaccard"), col("max_jaccard"))
      .orderBy("cluster_id")
  }

  /** Deployment band count for the MinHash arm: the
    * `spark.graft.minhash.bands` conf when set — how a production run
    * applies q270's tuning-table pick (the r18 discipline: every index
    * tuner's chosen row has a knob that consumes it — sign-LSH has
    * `spark.graft.lsh.*`, IVF has `spark.graft.ivf.nprobe`) — else the
    * default 4 the oracle contract pins. MinhashTuningSpec pins the
    * conf consumption, the banding theory's candidate-subset
    * monotonicity (a pair agreeing on a wide band agrees on all its
    * sub-bands, so candidates(2) ⊆ candidates(4) ⊆ candidates(8)), and
    * that the default IS q270's rule-pick on the driver's gate
    * corpus. */
  private def minhashBands(s: SparkSession): Int = {
    val nb = s.conf.getOption("spark.graft.minhash.bands")
      .map(_.toInt).getOrElse(B)
    // nb > 0 as well as divisibility (ADVICE r18): 16 % -4 == 0, so a
    // negative band count would pass the divisibility check alone and
    // make q42 silently empty instead of failing fast
    require(nb > 0 && K % nb == 0,
      s"bands $nb must be positive and divide the $K-minhash signature")
    nb
  }

  /** MinHash + LSH: word-3-gram shingles → ONE md5 per shingle split into
    * two 32-bit halves (a, b) → K universal hashes h_k = (a + k·b) mod p →
    * per-doc minima → B banded bucket keys ([[minhashBands]] — conf-
    * retunable, default 4) → bucket self-join for candidates →
    * estimated similarity = fraction of agreeing minhashes.
    * The (a + k·b) mod p family is 2-universal, exact in int64 (operands
    * < 2^36), and engine-portable (DuckDB parses '0x…' hex casts). */
  private val P = 4294967291L // largest prime < 2^32

  /** The q42 candidate-pair table, memoized per (session, dir, bands)
    * (r20, the jaccardPairs precedent): q42 (the pair report) and q197
    * (the calibration audit over exactly these candidates) each re-ran
    * the shingle → 16-hash signature → banding → bucket-join chain for
    * a bit-identical table. The BANDS KNOB IS PART OF THE KEY — a
    * tuned-knob session (spark.graft.minhash.bands) must never read a
    * default-knob build (MinhashTuningSpec flips the conf mid-session
    * and expects the candidate set to move). Pair-bounded rows,
    * deterministic, checkpoint-safe. */
  private val minhashPairsMemo = new graft.operators.SessionDirMemo[DataFrame]
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val nb = minhashBands(s)
    minhashPairsMemo.get(s, s"$dir#bands=$nb") {
      pin(minhashPairsBuild(s, dir, nb))
    }
  }

  private def q42(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).orderBy("doc_a", "doc_b")

  private def minhashPairsBuild(s: SparkSession, dir: String,
      nb: Int): DataFrame = {
    val g = shingleDf(s, dir, 3)
    val hashed = g.select(col("doc_id"),
      Hashing.md5U32(col("gram")).as("ha"),
      Hashing.md5U32b(col("gram")).as("hb"))
    val aggs = (0 until K).map(k =>
      min((col("ha") + lit(k.toLong) * col("hb")) % lit(P)).as(s"h$k"))
    val sig = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until nb).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|",
          (0 until K / nb).map(j =>
            col(s"h${(K / nb) * b + j}")): _*).as("bkey"))
    }
    val exploded = sig.withColumn("bk", explode(array(bandCols: _*)))
      .select((Seq(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey")) ++ (0 until K).map(k => col(s"h$k"))): _*)
    def side(p: String) = exploded.select(
      (Seq(col("doc_id").as(s"${p}_id"), col("band").as(s"${p}_band"),
        col("bkey").as(s"${p}_bkey")) ++
        (0 until K).map(k => col(s"h$k").as(s"$p$k"))): _*)
    val sim = (0 until K).map(k =>
      (col(s"a$k") === col(s"b$k")).cast("int")).reduce(_ + _)
      .cast("double") / lit(K.toDouble)
    side("a").join(side("b"),
        col("a_band") === col("b_band") && col("a_bkey") === col("b_bkey") &&
          col("a_id") < col("b_id"))
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        roundf(sim, 4).as("est_sim"))
      .distinct()
  }

  /** Paragraph-granular cross-document near-dup — the standard curation
    * gap between q147 (EXACT span census) and q41/q42 (whole-doc
    * near-dup): two documents that share one heavily-edited template
    * paragraph but differ elsewhere miss every doc-level threshold, yet
    * the paragraph itself is the thing a curation pass should collapse.
    * The unit becomes (doc_id, para_idx) — this corpus has no newlines,
    * so fixed-width [[W]]-token blocks stand in for paragraphs (the q147
    * convention) — and the whole q42 MinHash+LSH machinery reuses
    * verbatim with the compound unit key: word-3-gram shingles WITHIN a
    * block, K=16 universal hashes, B=4 banded bucket keys, bucket
    * equi-join restricted to pairs from DIFFERENT documents
    * (a.doc_id < b.doc_id — intra-doc repetition is q86's business).
    *
    * Fan-out stays bounded by the same argument as q42: candidates only
    * ever come from a keyed (band, bkey) join whose key cardinality
    * grows with the corpus, never an all-pairs product, and paragraph
    * units are STRICTLY finer than docs (≈ size/W units each, shingle
    * sets ≤ W — band keys over 4 minhashes of ≤ 22 shingles), so bucket
    * populations are no worse than doc-level banding on the same data.
    * If exact-duplicate template paragraphs ever dominate a corpus, the
    * q176 refinement (band DISTINCT signatures, rejoin units after)
    * applies verbatim — at this corpus's dup rate the direct join is the
    * cheaper plan. */
  private val W = 24 // paragraph width in tokens (the q147 line stand-in)
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val units = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel paragraph minhash
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast((size(toks)-1) div $W as int)), " +
          s"p -> slice(toks, p*$W+1, $W))")))
      .toDF("doc_id", "para_idx", "ptoks")
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        col("ptoks"))
    val hashed = units
      .select(col("doc_id"), col("para_idx"),
        explode(ngramsFromTokens(col("ptoks"), 3)).as("gram"))
      .select(col("doc_id"), col("para_idx"),
        Hashing.md5U32(col("gram")).as("ha"),
        Hashing.md5U32b(col("gram")).as("hb"))
    val aggs = (0 until K).map(k =>
      min((col("ha") + lit(k.toLong) * col("hb")) % lit(P)).as(s"h$k"))
    val sig = hashed.groupBy("doc_id", "para_idx").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until B).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|",
          (0 until K / B).map(j => col(s"h${(K / B) * b + j}")): _*).as("bkey"))
    }
    val exploded = sig.withColumn("bk", explode(array(bandCols: _*)))
      .select((Seq(col("doc_id"), col("para_idx"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey")) ++ (0 until K).map(k => col(s"h$k"))): _*)
    def side(p: String) = exploded.select(
      (Seq(col("doc_id").as(s"${p}_id"), col("para_idx").as(s"${p}_para"),
        col("band").as(s"${p}_band"), col("bkey").as(s"${p}_bkey")) ++
        (0 until K).map(k => col(s"h$k").as(s"$p$k"))): _*)
    val sim = (0 until K).map(k =>
      (col(s"a$k") === col(s"b$k")).cast("int")).reduce(_ + _)
      .cast("double") / lit(K.toDouble)
    side("a").join(side("b"),
        col("a_band") === col("b_band") && col("a_bkey") === col("b_bkey") &&
          col("a_id") < col("b_id"))
      .select(col("a_id").as("doc_a"), col("a_para").as("para_a"),
        col("b_id").as("doc_b"), col("b_para").as("para_b"),
        roundf(sim, 4).as("est_sim"))
      .distinct()
      .orderBy("doc_a", "para_a", "doc_b", "para_b")
  }

  /** Dedup funnel — the retention waterfall every corpus team reports
    * after a dedup pass: per source, how many documents (and tokens)
    * survive each stage of raw → exact-dup removal → near-dup removal.
    * Stage semantics compose the engine's own operators, not ad-hoc
    * re-derivations: exact_dup is q40's fingerprint non-keeper (min
    * doc_id per normalized-text md5 keeps), near_dup is "not an exact
    * dup, but non-canonical in its q67 connected-component cluster"
    * (cluster over the q41 Jaccard pair graph — similarity closure, not
    * a group-by), kept is neither. The token column makes it a BUDGET
    * report: tokens_kept/tokens_total is the dedup dividend. One window
    * on the fingerprint, the O(edges) CC machinery, then a single
    * per-source rollup — every stage already argued scale-safe where it
    * lives. */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(tokensCol(col("text"))).cast("long").as("n_toks"),
      fingerprint(col("text")).as("fp"))
    val exact = d
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
      .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("is_ex"))
    val cl = dedupClusters(s, dir)
      .select(col("doc_id"), (col("doc_id") =!= col("comp")).as("nc"))
    val kept = !col("is_ex") && !col("nc")
    d.join(exact, "doc_id").join(cl, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_ex").cast("long")).as("n_exact_dup"),
        sum((!col("is_ex") && col("nc")).cast("long")).as("n_near_dup"),
        sum(kept.cast("long")).as("n_kept"),
        sum("n_toks").as("tokens_total"),
        sum(when(kept, col("n_toks")).otherwise(lit(0L)))
          .as("tokens_kept"))
      .orderBy("source")
  }

  /** SimHash: 64-bit signature from per-token md5 bit votes, emitted as a
    * '0'/'1' string so the oracle is engine-portable. Distinct tokens vote
    * ±1 per bit; sign of the per-bit sum is the signature bit. */
  /** Per-doc 64-bit SimHash as a bit string — shared by q43 (signatures)
    * and q176 (pair mining). Memoized per (session, dir) (r20, the
    * jaccardPairs precedent): both consumers re-ran the 64-column bit
    * vote over the exploded token set for a bit-identical signature
    * table. O(docs) rows, deterministic, checkpoint-safe. */
  private val simhashMemo = new graft.operators.SessionDirMemo[DataFrame]
  private def simhashBits(s: SparkSession, dir: String): DataFrame =
    simhashMemo.get(s, dir)(pin(simhashBitsBuild(s, dir)))

  private def simhashBitsBuild(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel bit votes
      .select(col("doc_id"),
        explode(array_distinct(tokensCol(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h", md5(col("tok")))
    val contribs = (0 until 64).map { b =>
      val p = b / 4; val j = 3 - (b % 4)
      sum(expr(
        s"(shiftright(locate(substr(h, ${p + 1}, 1), '0123456789abcdef') - 1, $j) & 1) * 2 - 1"))
        .as(s"s$b")
    }
    val agg = toks.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
    val bits = concat((0 until 64).map(b =>
      when(col(s"s$b") >= 0, lit("1")).otherwise(lit("0"))): _*)
    agg.select(col("doc_id"), bits.as("simhash_bits"))
  }

  private def q43(s: SparkSession, dir: String): DataFrame =
    simhashBits(s, dir).orderBy("doc_id")

  /** Sorted-neighborhood dedup (the Hernández–Stolfo merge/purge method):
    * docs sorted by normalized text, ADJACENT pairs sharing a 32-char
    * normalized prefix reported as near-dup suspects. The method's whole
    * point is that one global sort replaces any pairwise comparison — and
    * the engine's point is that the sort needs no single-task window:
    * [[graft.operators.GlobalRank]] assigns the global position
    * (range-partitioned two-pass), and "adjacent" is a self-equi-join on
    * rank = rank+1. The oracle states the same thing with lead() over a
    * global ORDER BY — fine at sf0.01, single-partition death at 100 TB,
    * which is exactly the twin relationship q174 pins for ntile. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis.normalizeText
    val d = docs(s, dir)
      .select(col("doc_id"), normalizeText(col("text")).as("norm"))
    val ranked = graft.operators.GlobalRank
      .withRank(d, "rnk", col("norm"), col("doc_id"))
    val a = ranked.select(col("rnk"), col("doc_id").as("doc_a"),
      col("norm").as("na"))
    val b = ranked.select((col("rnk") - 1L).as("rnk"),
      col("doc_id").as("doc_b"), col("norm").as("nb"))
    a.join(b, "rnk")
      .filter(substring(col("na"), 1, 32) === substring(col("nb"), 1, 32))
      .select(col("doc_a"), col("doc_b"),
        substring(col("na"), 1, 32).as("shared_prefix"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup PAIRS at Hamming distance ≤ 3, with candidates from
    * 4-band banding — and unlike MinHash banding this recall is EXACT,
    * not probabilistic: ≤ 3 differing bits can touch at most 3 of the 4
    * disjoint 16-bit bands (pigeonhole), so every qualifying pair shares
    * at least one full band and survives the bucket join. The oracle runs
    * the brute-force all-pairs Hamming scan the banded join provably
    * equals (the q100 SymSpell discipline). Engine side: one bucket
    * equi-join on (band, chunk) — never an all-pairs product — then the
    * 64-term exact Hamming rescore on candidates only; DISTINCT collapses
    * pairs that agree on several bands. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    // Dedup-before-LSH: exact-duplicate docs share a signature, and big
    // template clusters would quadratically inflate every band bucket
    // they touch (measured at sf0.1: banding raw docs yields 1.9M
    // candidates with a 1473-doc hot bucket; banding the 3.9k UNIQUE
    // signatures yields 450k with a 589 cap). So the join runs on
    // distinct signatures, and doc pairs are recovered afterwards by two
    // keyed sig→doc joins (inter-sig) plus one same-sig self-join whose
    // fan-out is the Hamming-0 part of the ANSWER itself. Everything is
    // two packed int64s per signature: band keys by shift/mask, the
    // rescore two XOR+POPCNT ops — no strings past the signature stage.
    val sh = simhashBits(s, dir) // memoized checkpoint (r20) — the
    // per-query localCheckpoint it used to carry would duplicate the
    // memo's cached blocks
    val packed = sh.select(col("doc_id"),
      conv(substring(col("simhash_bits"), 1, 32), 2, 10).cast("long")
        .as("hi"),
      conv(substring(col("simhash_bits"), 33, 32), 2, 10).cast("long")
        .as("lo"))
    val uniq = packed.select("hi", "lo").distinct()
    def chunk(b: Int) = {
      val src = if (b < 2) col("hi") else col("lo")
      shiftright(src, if (b % 2 == 0) 16 else 0).bitwiseAND(lit(0xFFFFL))
    }
    val bands = uniq.select(col("hi"), col("lo"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), chunk(b).as("ck"))): _*)).as("bd"))
      .select(col("hi"), col("lo"),
        col("bd.band").as("band"), col("bd.ck").as("ck"))
    val sigPairs = bands.as("a")
      .join(bands.toDF("hi_b", "lo_b", "band", "ck").as("b"), Seq("band", "ck"))
      .filter(col("hi") < col("hi_b") ||
        (col("hi") === col("hi_b") && col("lo") < col("lo_b")))
      .select("hi", "lo", "hi_b", "lo_b")
      .distinct()
      .withColumn("hamming",
        (expr("bit_count(hi ^ hi_b)") + expr("bit_count(lo ^ lo_b)"))
          .cast("long"))
      .filter(col("hamming") <= 3L)
    val inter = sigPairs
      .join(packed.toDF("da", "hi", "lo"), Seq("hi", "lo"))
      .join(packed.toDF("db", "hi_b", "lo_b"), Seq("hi_b", "lo_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val intra = packed.as("a")
      .join(packed.toDF("db", "hi", "lo").as("b"), Seq("hi", "lo"))
      .filter(col("doc_id") < col("db"))
      .select(col("doc_id").as("doc_a"), col("db").as("doc_b"),
        lit(0L).as("hamming"))
    inter.unionAll(intra)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup: vector pairs above a cosine threshold,
    * with candidates generated through the multi-band sign-LSH bucket join
    * (graft.operators.Lsh — 32 bands × 4 bits, same banding as
    * SimilarityQueries.q51) and exact-rescored with the native cosine_sim
    * expression. Never an all-pairs product and never an O(N) broadcast:
    * the bands self-join shuffle-partitions on the bucket key, the pair
    * dedup and the two vector-fetch joins shuffle on ids — every stage is
    * keyed, so the shape survives 100 TB mechanically; the band parameters
    * set the recall/selectivity trade (see Lsh scaladoc — at this corpus'
    * weak 0.45 threshold the bands are sized for recall; production 0.9+
    * thresholds prune much harder).
    *
    * The DuckDB oracle stays brute-force all-pairs — it is the DEFINITION
    * of the answer. The hash-match therefore certifies the bucketed path
    * loses no qualifying pair on this corpus (verified at sf
    * 0.001/0.01/0.1); the residual risk is quantifiable and sized for:
    * a pair AT the 0.45 threshold (per-plane agreement p ≈ 0.648) misses
    * all 48 bands with probability (1 − p⁴)^48 ≈ 1e-4 — versus ~2e-3 at
    * 32 bands, which would court a corpus-luck failure on a regenerated
    * dataset with hundreds of near-threshold pairs. That asymmetry is
    * inherent to LSH candidate generation; production deployments accept
    * it (and size bands to their threshold) because the exact alternative
    * is the O(N²) product this operator exists to avoid. */
  private val NdBands = 48
  private val NdRows = 4
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
    // second PINNED repartition (see Lsh.bandsDf for the first): the
    // 2M-pair bucket join + 2M exact cosines behind this exchange would
    // otherwise be AQE-coalesced into one task (measured 2.5×)
    val n = s.sessionState.conf.numShufflePartitions
    val bands = graft.operators.Lsh
      .bandsDf(e, "vec_id", "v", NdBands, NdRows, 64)
      .repartition(n, col("band"), col("bkey"))
    val cand = bands
      .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
      .repartition(n, col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("qv")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        roundf(expr("cosine_sim(v, qv)"), 4).as("cos"))
      .filter(col("cos") >= 0.45)
      .orderBy("vec_a", "vec_b")
  }

  /** SymSpell-style fuzzy match: every pair of customer names within edit
    * distance 1, found WITHOUT an all-pairs product — and without a single
    * Levenshtein call. Candidate generation is a keyed self-join on the
    * POSITION-TAGGED deletion neighborhood (each name at pos 0, plus its
    * single-char-deletion variants tagged with the deleted index), and a
    * three-clause integer filter decides edit distance ≤ 1 EXACTLY:
    *
    *  - same variant, SAME deletion position j > 0 — both strings equal
    *    after removing index j, so they differ at most at j: one
    *    substitution (distance 0 is excluded by `a < b`);
    *  - one side at pos 0 (the intact name) — the other's deletion equals
    *    it verbatim: one insertion/deletion.
    *
    * Every distance-1 pair is caught (a substitution pair shares the
    * variant at the substituted index; an indel pair joins intact-vs-
    * deleted), and nothing farther survives (equal remainders at the same
    * index force equality elsewhere). Distance-2 bucket-mates like
    * "abc"/"cab" — which share bare variant "ab" at DIFFERENT positions
    * and previously forced a post-join `levenshtein` pass over ~1M
    * candidates (the round-6 bench's single slowest step at 8 s, run
    * inside one AQE-coalesced task) — now die on an integer compare.
    * The oracle IS the all-pairs `levenshtein` product (fine over
    * sf0.01's 1 500 names, melted-reducer territory at corpus scale):
    * identical rows, O(N·len) join vs O(N²) scan, all outputs strings —
    * nothing to ulp-diverge. Mechanics + exactness proof:
    * [[graft.operators.FuzzyMatch]] (equivalence to brute-force
    * levenshtein ≤ 1 pinned in FuzzyMatchSpec on adversarial fixtures). */
  private def q100(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyMatch.editDistance1Pairs(
        Tables.load(s, dir, "customer").select(col("c_name").as("name")),
        "name")
      .orderBy("a", "b")

  /** Exact duplicated-span census per source — the C4/RefinedWeb
    * "remove any line repeated elsewhere in the corpus" statistic, over
    * 8-word spans (this corpus has no newlines, so fixed-width token
    * windows stand in for lines). For each source: how many distinct
    * spans its documents contain, and how many of those also occur in at
    * least one OTHER document — the fraction a span-level exact dedup
    * pass would rewrite. ONE shuffle: spans hash to xxhash64 longs
    * (q41's discipline — 8-word strings never cross the exchange), corpus
    * df comes from an unordered window over the span key (no join-back;
    * the window's partition IS the dedup key), and the per-source rollup
    * rides the second, 20-row exchange. The dup ratio is e6 fixed-point
    * on the intDivExact path: n_dup·1e6 passes 2^53 once a source holds
    * ~9e9 duplicated spans — real at the 100 TB posture. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val spans = docs(s, dir)
      .select(col("doc_id"), col("source"),
        tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(ngramsFromTokens(col("toks"), 8)).as("gram"))
      .select(col("source"), xxhash64(col("gram")).as("g"))
    spans
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_spans"),
        sum((col("df") > 1).cast("long")).cast("long").as("n_dup_spans"))
      .withColumn("dup_ratio_e6",
        intDivExact(
          col("n_dup_spans").cast("decimal(19,0)") * lit(1000000L),
          col("n_spans")))
      .orderBy("source")
  }

  /** Cross-document long-substring overlap (RefinedWeb/C4-style ≥k-token
    * shared span detection) WITHOUT a suffix array: positional 8-token
    * shingles meet on their hash (a keyed equi-join — candidate fan-out is
    * bounded by the df ≤ 100 gate, q41's discipline), and a run of
    * consecutive matching shingles along one (doc_a, doc_b, pa−pb)
    * diagonal IS a shared substring: r consecutive width-8 shingles ⇔ one
    * r+7-token overlap, so run-length grouping (gaps-and-islands:
    * pa − row_number per diagonal) recovers every maximal shared span
    * exactly — no pair enumerates more than its true matching positions,
    * and nothing ever compares document texts directly. Shingle identity
    * crosses the shuffle as an xxhash64 long (8 bytes, not an 8-word
    * string); the oracle states the same algebra on the gram strings. Scale
    * posture: shuffles are keyed on gram hash then (doc_a, doc_b, diag) —
    * both fine-grained keys that spread under a 1000-executor shuffle; the
    * df gate caps per-shingle join fan-out the way boilerplate headers
    * would otherwise explode it at 100 TB. Reported per pair: the longest
    * overlap ≥ 12 tokens and how many distinct maximal runs clear that
    * bar. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val K = 8         // shingle width (tokens)
    val MaxDf = 100   // corpus-frequency gate on shingle occurrences
    val MinOverlap = 12L // report runs spanning at least this many tokens
    // r20 rewrite (guide §2.4 + §1.2): the df gate rides an unordered
    // window over the shingle key (the q147 one-shuffle discipline)
    // instead of a count-aggregate + join-back, and the gated positional
    // shingle table is checkpointed once for the pair self-join's two
    // sides — before, the tokenize + posexplode chain ran four times
    // (gate build, gate join, and both join sides). Gated rows are
    // df-bounded (≤ MaxDf per shingle), checkpoint-safe.
    val gf = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel shingle build
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("toks")) - lit(K - 1)),
          i => xxhash64(slice(col("toks"), i, lit(K))))))
      .toDF("doc_id", "pos", "g")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= MaxDf)
      .select("doc_id", "pos", "g")
      .transform(checkpoint)
    val m = gf.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("g"))
      .join(gf.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("g")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    val runs = m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg((count(lit(1)) + lit(K - 1L)).as("overlap_tokens"))
    runs.filter(col("overlap_tokens") >= MinOverlap)
      .groupBy("doc_a", "doc_b")
      .agg(max("overlap_tokens").as("max_overlap_tokens"),
        count(lit(1)).as("n_overlaps"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-LSH calibration audit — per q42 candidate pair, the
    * ESTIMATED similarity (fraction of agreeing minhashes) next to the
    * EXACT 3-gram Jaccard over the same shingle space, plus the signed
    * error, all on the e4 integer grid. This is the audit a team runs
    * before trusting banding parameters at scale: the error distribution
    * says whether K=16 signatures are enough for the corpus' similarity
    * regime, and a systematic bias says the band/row split is wrong —
    * measured on the candidates the index itself emits, so the audit
    * costs one bounded pass, never an all-pairs scan. Exact-side shape:
    * the intersection join expands candidate pairs against per-doc gram
    * sets keyed on (doc id, xxhash64(gram)) — gram text never crosses
    * the exchange (q41's discipline), and fan-out is bounded by the LSH
    * candidate count × document shingle count. */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val cand = minhashPairs(s, dir) // memoized candidates (r20) — the
    // audit scores exactly the index's own pair table; order is
    // irrelevant here, so it skips q42's report sort
    val g = shingleDf(s, dir, 3)
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
    val sz = g.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand.select("doc_a", "doc_b")
      .join(g.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("g")),
        Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    cand
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sa")),
        "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sb")),
        "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("i", coalesce(col("inter"), lit(0L)))
      .select(col("doc_a"), col("doc_b"),
        floor(col("est_sim") * lit(10000.0) + lit(0.5)).cast("long")
          .as("est_e4"),
        floor((col("i").cast("double") /
          (col("sa") + col("sb") - col("i")).cast("double")) *
          lit(10000.0) + lit(0.5)).cast("long").as("jacc_e4"))
      .withColumn("err_e4", col("est_e4") - col("jacc_e4"))
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental (cross-batch) dedup — the nightly-crawl case: a NEW
    * batch (doc_id ≥ 250 stands in for it) screens against the EXISTING
    * corpus without re-deduping old-vs-old. Exact: fingerprint left-semi
    * join against the old fingerprint set (a keyed join — at 100 TB the
    * old set shuffles by fingerprint, it is never broadcast). Near:
    * the shared shingle→Jaccard candidate machinery, FILTERED to pairs
    * that straddle the boundary — old×old and new×new candidate work is
    * pruned before the pair aggregation by construction of the id split
    * (old ids < cut ≤ new ids, and pairs emit as a < b). Emits every new
    * doc with both verdicts; this corpus has no exact text twins, so
    * exact_dup doubles as a false-positive probe on the fingerprint
    * join. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val cut = 250
    val d = docs(s, dir)
    val fp = d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val exact = fp.filter(col("doc_id") >= cut)
      .join(fp.filter(col("doc_id") < cut).select(col("fp")),
        Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("exact_dup", lit(1L))
    val near = jaccardPairs(s, dir)
      .filter(col("doc_a") < cut && col("doc_b") >= cut &&
        col("jaccard") >= 0.3)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dup", lit(1L))
    d.filter(col("doc_id") >= cut).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(0L)).as("exact_dup"),
        coalesce(col("near_dup"), lit(0L)).as("near_dup"))
      .orderBy("doc_id")
  }

  /** Leakage-FREE split assignment — the constructive fix for what q156
    * audits: assign train/val/test by hashing the near-dup CLUSTER id
    * (q67's connected components), not the document id, so an entire
    * near-dup family lands in one split BY CONSTRUCTION and the q156
    * straddle census over the same pair graph returns zero leak rows —
    * which is exactly what this query emits and the oracle proves
    * (same schema as q156 for direct comparison; only (x, x) buckets can
    * appear). This is sklearn's GroupShuffleSplit generalized to groups
    * the data itself discovers. Both the pair graph ([[jaccardPairs]])
    * and the CC closure ([[dedupClusters]]) come from the shared
    * per-(session, dir) checkpointed memos — the census and the split
    * assignment read cached tables, never re-mine the shingle chain. */
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val edges = jaccardPairs(s, dir).select("doc_a", "doc_b")
    val cl = dedupClusters(s, dir)
      .select(col("doc_id"), col("comp").as("cluster_id"))
    val u = Hashing.md5Uniform(col("cluster_id").cast("string"))
    val sp = cl.select(col("doc_id"),
      when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
        .as("split"))
    edges
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        (col("split_lo") =!= col("split_hi")).cast("long"))
      .orderBy("split_lo", "split_hi")
  }

  /** Train/val/test split-leakage census: after the q99 deterministic
    * split assignment, how many NEAR-DUP pairs straddle split
    * boundaries? A near-twin of a training doc sitting in the eval split
    * silently inflates eval scores — this is the audit that catches it
    * before a training run does. Pairs come from the shared Jaccard
    * machinery (≥ 0.3); each pair's two splits canonicalize via
    * least/greatest so 'train→val' and 'val→train' are one bucket;
    * same-split buckets ride along with is_leak = 0 as the baseline the
    * leak counts are read against. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val u = Hashing.md5Uniform(col("doc_id").cast("string"))
    val splits = docs(s, dir).select(col("doc_id"),
      when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
        .as("split"))
    jaccardPairs(s, dir).filter(col("jaccard") >= 0.3)
      .join(splits.select(col("doc_id").as("doc_a"),
        col("split").as("sa")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"),
        col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        (col("split_lo") =!= col("split_hi")).cast("long"))
      .orderBy("split_lo", "split_hi")
  }

  /** Containment near-dup pairs (doc-in-doc detection) — thin face of
    * [[graft.operators.DedupPipeline.containmentPairs]], which owns the
    * implementation and the rationale: Jaccard misses a small document
    * swallowed by a much larger one (J = |small|/|big| under any
    * threshold), Broder containment inter/|side| catches it. Emits both
    * directions; a pair survives when the overlap coefficient
    * max(cont_a, cont_b) ≥ 0.5. Same keyed posting-list mining as q41 —
    * no all-pairs product, df-gated fan-out — so the 100 TB posture is
    * q41's. Oracle mirrors on gram text (hash ≡ text equality absent
    * 64-bit collisions, the q41 argument). gated_a/gated_b (round-10
    * advice) are each side's count of df-gated-out grams — per pair,
    * true inter ≤ inter + least(gated_a, gated_b), the sound recall
    * bound for the boilerplate-heavy pairs the gate undercounts most. */
  private def q226(s: SparkSession, dir: String): DataFrame =
    graft.operators.DedupPipeline
      .containmentPairs(docs(s, dir), "doc_id", "text", n = 5,
        minContainment = 0.5, maxDf = maxDf)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("sz_a"), col("sz_b"),
        col("gated_a"), col("gated_b"),
        col("cont_a"), col("cont_b"))
      .orderBy("doc_a", "doc_b")

  /** Cross-source duplication flow — the "who copies from whom" matrix a
    * multi-source corpus needs before per-source token budgets mean
    * anything: near-dup pairs (shared Jaccard machinery, ≥ 0.3) rolled
    * up by their two documents' SOURCES, canonicalized least/greatest so
    * A→B and B→A are one cell (q156's split-leakage shape pointed at
    * provenance instead of splits). Same-source cells ride along with
    * is_cross = 0 as the within-source baseline the cross counts are
    * read against; a hot cross cell means one source is a mirror/scrape
    * of another and its budget is an illusion. */
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val srcs = docs(s, dir).select(col("doc_id"), col("source"))
    jaccardPairs(s, dir).filter(col("jaccard") >= 0.3)
      .join(srcs.select(col("doc_id").as("doc_a"),
        col("source").as("sa")), "doc_a")
      .join(srcs.select(col("doc_id").as("doc_b"),
        col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross",
        (col("src_lo") =!= col("src_hi")).cast("long"))
      .orderBy("src_lo", "src_hi")
  }

  /** LSH band-count tuning sweep — the index-sizing decision q197's
    * single-config calibration can't make: the SAME 16-minhash
    * signature banded three ways (2×8, 4×4, 8×2 — the s-curve knob:
    * more bands = higher recall = more candidates), each config scored
    * against the exact 3-gram-Jaccard ≥ 0.5 truth set for candidate
    * volume, recall and precision (exact e4, floor-division). One
    * signature build feeds all three arms; truth is the q41 posting
    * machinery at n = 3. The output IS the tuning table an operator
    * reads to pick B for a recall target — and it demonstrates the
    * monotone recall/candidate trade the banding theory predicts.
    *
    * Memoized per (session, dir) (r18 verdict item 2): the table is 3
    * rows but the chain behind it (shingle → 16 minhashes → fused
    * 3-arm banding + the exact Jaccard truth mining) is whole-corpus
    * work, and both q270 and q382 (the index sizing plan) consume it.
    * `SessionDirMemo.rawChain` reaches the lazy chain; MemoNeutralitySpec
    * pins hash-neutrality. */
  private val minhashTuningMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def minhashTuningTable(s: SparkSession, dir: String)
      : DataFrame =
    minhashTuningMemo.get(s, dir)(pin(minhashTuningOf(s, docs(s, dir))))

  private def q270(s: SparkSession, dir: String): DataFrame =
    minhashTuningTable(s, dir).orderBy("bands")

  /** The q270 chain over a GIVEN documents frame — the form the
    * streaming sizing twin (q382's drift twin, StreamingSpec)
    * re-derives per micro-batch over exactly the arrived corpus. */
  private[graft] def minhashTuningOf(s: SparkSession, docsDf: DataFrame)
      : DataFrame = {
    import graft.functions.Rounding.intDiv
    val g = shingleOf(docsDf, 3)
    val hashed = g.select(col("doc_id"),
      Hashing.md5U32(col("gram")).as("ha"),
      Hashing.md5U32b(col("gram")).as("hb"))
    val aggs = (0 until K).map(k =>
      min((col("ha") + lit(k.toLong) * col("hb")) % lit(P)).as(s"h$k"))
    val sig = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val truth = graft.operators.DedupPipeline
      .nearDupPairs(docsDf, "doc_id", "text", n = 3,
        minJaccard = 0.5, maxDf = maxDf)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit(1L).as("is_true"))
    val truthN = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    // r13 arm fusion (the q299 pattern): the three band decompositions
    // union into ONE arm-tagged exploded table, so candidate mining is
    // a single self-join on (arm, band, bkey) + one distinct + one
    // grouped aggregate instead of 3× each — same candidate volume,
    // one exchange family. The static arm dimension left-joins the
    // counts so an arm whose bands yield ZERO candidates still reports
    // its row (the q299 ADVICE-r12 vanishing-row trap).
    val arms = Seq(2, 4, 8)
    val bandColsAll = arms.flatMap { nb =>
      val rpb = K / nb
      (0 until nb).map { b =>
        struct(lit(nb.toLong).as("nb"), lit(b).as("band"),
          concat_ws("|", (0 until rpb).map(j =>
            col(s"h${rpb * b + j}")): _*).as("bkey"))
      }
    }
    val exploded = sig
      .withColumn("bk", explode(array(bandColsAll: _*)))
      .select(col("doc_id"), col("bk.nb").as("nb"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val cand = exploded.as("a")
      .join(exploded.as("b"),
        col("a.nb") === col("b.nb") &&
          col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.nb").as("nb"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .distinct()
    val counts = cand.join(truth, Seq("doc_a", "doc_b"), "left")
      .groupBy("nb")
      .agg(count(lit(1)).as("n_cand"),
        coalesce(sum("is_true"), lit(0L)).as("n_hit"))
    val armDim = s.range(1).select(explode(array(arms.map(nb =>
        struct(lit(nb.toLong).as("nb"),
          lit((K / nb).toLong).as("rows_per_band"))): _*)).as("a"))
      .select(col("a.nb").as("nb"), col("a.rows_per_band"))
    armDim.join(counts, Seq("nb"), "left")
      .select(col("nb").as("bands"), col("rows_per_band"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .crossJoin(broadcast(truthN))
      .select(col("bands"), col("rows_per_band"), col("n_cand"),
        col("n_truth"), col("n_hit"),
        intDiv(lit(10000L) * col("n_hit"), col("n_truth")).as("recall_e4"),
        when(col("n_cand") > 0L,
          intDiv(lit(10000L) * col("n_hit"), col("n_cand")))
          .otherwise(lit(0L)).as("precision_e4"))
  }

  /** Winnowing (MOSS) fingerprint pairs — the position-aware dedup
    * scheme MinHash is not: each doc keeps, from every window of 4
    * consecutive 3-gram hashes, the window's MINIMUM hash (ties to the
    * earlier position — the original winnowing rule), which guarantees
    * any shared run of ≥ 6 tokens contributes at least one shared
    * minimizer — the detection floor plagiarism checkers rely on.
    * Selection is one framed sliding-min window per doc (position
    * order, rows [-3, 0]); pairs come from the distinct-minimizer
    * posting lists with the q41 df gate, scored by shared-minimizer
    * count (≥ 2). Hashes are md5-derived 32-bit so the oracle replays
    * them bit-for-bit on gram TEXT. */
  private def q273(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.ReadParallelism
      .fanOut(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id")) // r20 guide §2.5 — parallel minimizer build
      .select(col("doc_id"), tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val grams = toks.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, size(t) - 2), " +
            "i -> concat_ws(' ', slice(t, i, 3)))")))
      .select(col("doc_id"), col("pos"),
        Hashing.md5U32(col("col")).as("h"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-3, 0)
    // argmin with earlier-position tie-break: min over the window of
    // (h, pos) struct — lexicographic, position breaks hash ties
    val sel = grams
      .withColumn("m", min(struct(col("h"), col("pos"))).over(w))
      .filter(col("pos") >= 3) // only complete windows select
      .select(col("doc_id"), col("m.h").as("mz"))
      .distinct()
    // r20 rewrite (guide §2.4): df gate as an unordered window over the
    // minimizer key (q147's one-shuffle discipline) instead of a count
    // aggregate + join-back — the whole gram→sliding-min→distinct chain
    // ran twice before (once per gate side); now it runs once and the
    // gate filter + posting aggregation share one mz-keyed exchange.
    val pairs = sel
      .withColumn("df", count(lit(1)).over(Window.partitionBy("mz")))
      .filter(col("df").between(2, maxDf))
      .groupBy("mz")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, x -> transform(filter(ds, y -> y > x), " +
          "y -> named_struct('a', x, 'b', y))))")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    pairs.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2L)
      .orderBy("doc_a", "doc_b")
  }

  val defs: Map[String, Q] = Map(
    "q40_dedup_exact" -> (q40 _),
    "q226_containment" -> (q226 _),
    "q239_dup_flow" -> (q239 _),
    "q270_lsh_tuning" -> (q270 _),
    "q273_winnowing" -> (q273 _),
    "q147_span_dedup_census" -> (q147 _),
    "q151_incremental_dedup" -> (q151 _),
    "q192_substring_overlap" -> (q192 _),
    "q197_lsh_calibration" -> (q197 _),
    "q198_groupwise_split" -> (q198 _),
    "q156_split_leakage" -> (q156 _),
    "q41_dedup_jaccard" -> (q41 _),
    "q316_cluster_transitivity" -> (q316 _),
    "q42_dedup_minhash" -> (q42 _),
    "q211_para_near_dup" -> (q211 _),
    "q219_dedup_funnel" -> (q219 _),
    "q43_dedup_simhash" -> (q43 _),
    "q176_simhash_pairs" -> (q176 _),
    "q177_sorted_neighbors" -> (q177 _),
    "q44_dedup_embedding" -> (q44 _),
    "q67_dedup_clusters" -> (q67 _),
    "q341_dedup_attrition" -> (q341 _),
    "q100_fuzzy_match" -> (q100 _))

  private val normSql =
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Positional n-gram HASHES CTE chain ending in
    * `pgrams(doc_id, pos, h)` — q273's winnowing input (1-based pos). */
  private def gramsSqlPositional(n: Int): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${n - 1})) AS i
       |        FROM toks WHERE len(t) >= $n),
       |pgrams AS (
       |  SELECT doc_id, i AS pos,
       |    ${graft.functions.Hashing
            .md5U32Sql(s"array_to_string(t[i:i+${n - 1}], ' ')")} AS h
       |  FROM idx)""".stripMargin

  private def gramsSql(n: Int): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${n - 1})) AS i
       |        FROM toks WHERE len(t) >= $n),
       |grams AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS gram
       |          FROM idx)""".stripMargin

  /** Oracle CTE chain ending in `cand(doc_a, doc_b, est_sim)` — the
    * MinHash+LSH candidate pairs, shared by q42 and q197's calibration
    * audit (no leading WITH; a def for object-init-order safety). */
  private def minhashCtes: String = {
    val mins = (0 until K).map(k => s"min((ha + $k * hb) % $P) AS h$k")
      .mkString(", ")
    val hs = (0 until K).map(k => s"h$k").mkString(", ")
    val bandRows = (0 until B).map { b =>
      val parts = (0 until K / B).map(j => s"h${(K / B) * b + j}")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('|', $parts) AS bkey, $hs FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val eqs = (0 until K).map(k => s"CAST(a.h$k = b.h$k AS INT)")
      .mkString(" + ")
    s"""${gramsSql(3)},
       |hashed AS (
       |  SELECT doc_id,
       |    ${Hashing.md5U32Sql("gram")} AS ha,
       |    ${Hashing.md5U32bSql("gram")} AS hb
       |  FROM grams),
       |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    floor((($eqs) / ${K.toDouble}) * 10000.0 + 0.5) / 10000.0 AS est_sim
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, est_sim FROM cand ORDER BY doc_a, doc_b""".stripMargin

  /** q211's oracle: the [[minhashCtes]] chain re-stated over
    * (doc_id, para_idx) units — fixed W-token blocks sliced from the
    * token array — ending in the cross-document candidate join. A def
    * for object-init-order safety. */
  private def paraMinhashSql: String = {
    val mins = (0 until K).map(k => s"min((ha + $k * hb) % $P) AS h$k")
      .mkString(", ")
    val hs = (0 until K).map(k => s"h$k").mkString(", ")
    val bandRows = (0 until B).map { b =>
      val parts = (0 until K / B).map(j => s"h${(K / B) * b + j}")
        .mkString(", ")
      s"SELECT doc_id, para_idx, $b AS band, concat_ws('|', $parts) AS bkey, $hs FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val eqs = (0 until K).map(k => s"CAST(a.h$k = b.h$k AS INT)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |paras AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS para_idx,
       |    t[CAST(p*$W+1 AS INT):CAST(p*$W+$W AS INT)] AS pt
       |  FROM toks, unnest(generate_series(0, (len(t)-1)//$W)) AS g(p)),
       |idx AS (SELECT doc_id, para_idx, pt,
       |          unnest(generate_series(1, len(pt) - 2)) AS i
       |        FROM paras WHERE len(pt) >= 3),
       |grams AS (SELECT DISTINCT doc_id, para_idx,
       |    array_to_string(pt[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS gram
       |  FROM idx),
       |hashed AS (
       |  SELECT doc_id, para_idx,
       |    ${Hashing.md5U32Sql("gram")} AS ha,
       |    ${Hashing.md5U32bSql("gram")} AS hb
       |  FROM grams),
       |sig AS (SELECT doc_id, para_idx, $mins FROM hashed
       |        GROUP BY doc_id, para_idx),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, a.para_idx AS para_a,
       |    b.doc_id AS doc_b, b.para_idx AS para_b,
       |    floor((($eqs) / ${K.toDouble}) * 10000.0 + 0.5) / 10000.0
       |      AS est_sim
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, para_a, doc_b, para_b, est_sim FROM cand
       |ORDER BY doc_a, para_a, doc_b, para_b""".stripMargin
  }

  /** Shared CTE chain ending in `sh(doc_id, simhash_bits)` — the oracle
    * twin of [[simhashBits]], used by both q43 and q176. */
  private val simhashCtes: String = {
    val sums = (0 until 64).map { b =>
      val p = b / 4; val j = 3 - (b % 4)
      s"sum((((strpos('0123456789abcdef', substr(h, ${p + 1}, 1)) - 1) >> $j) & 1) * 2 - 1) AS s$b"
    }.mkString(", ")
    val bits = (0 until 64)
      .map(b => s"CASE WHEN s$b >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""raw AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |toks AS (SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> ''),
       |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |agg AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id),
       |sh AS (SELECT doc_id, $bits AS simhash_bits FROM agg)""".stripMargin
  }

  private val simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash_bits FROM sh ORDER BY doc_id""".stripMargin

  /** Brute-force all-pairs Hamming scan the q176 banded join provably
    * equals (pigeonhole over 4 disjoint bands at distance ≤ 3). */
  private val simhashPairsSql: String = {
    val ham = (0 until 64).map(i =>
      s"CASE WHEN substr(a.simhash_bits, ${i + 1}, 1) <> substr(b.simhash_bits, ${i + 1}, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $simhashCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE $ham <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared CTE chain ending in `jp(doc_a, doc_b, inter, jaccard)` — the
    * near-dup pair graph, used verbatim by q41 and q67. */
  private[graft] val jaccardCtes: String =
    s"""${gramsSql(5)},
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
       |keep AS (SELECT gram FROM grams GROUP BY gram
       |         HAVING count(*) BETWEEN 2 AND $maxDf),
       |gf AS (SELECT g.doc_id, g.gram FROM grams g JOIN keep USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM gf a JOIN gf b
       |    ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
       |    floor((inter / (sa.sz + sb.sz - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
       |  FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE floor((inter / (sa.sz + sb.sz - inter)) * 10000.0 + 0.5) / 10000.0 >= 0.1)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same sliding-min selection on gram text (1-based positions shift
    // the complete-window gate to i >= 4; tie-break order is invariant
    // to the shift), same df gate and posting pairs
    "q273_winnowing" ->
      s"""WITH ${gramsSqlPositional(3)},
         |selw AS (
         |  SELECT doc_id, pos,
         |    min(struct_pack(h := h, pos := pos)) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
         |  FROM pgrams),
         |sel AS (
         |  SELECT DISTINCT doc_id, (m).h AS mz FROM selw WHERE pos >= 4),
         |gate AS (
         |  SELECT mz FROM sel GROUP BY mz
         |  HAVING count(*) BETWEEN 2 AND $maxDf),
         |kept AS (SELECT sel.doc_id, sel.mz FROM sel JOIN gate USING (mz)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM kept a JOIN kept b
         |    ON a.mz = b.mz AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, count(*) AS n_shared
         |FROM pairs GROUP BY 1, 2
         |HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin,
    // one shared signature chain, three band splits, the q41 n=3 truth
    // set at >= 0.5, identical floor divisions
    "q270_lsh_tuning" -> {
      import graft.functions.Rounding.intDivSql
      val mins = (0 until K).map(k =>
        s"min((ha + $k * hb) % $P) AS h$k").mkString(", ")
      def bandsFor(nb: Int): String = {
        val rpb = K / nb
        (0 until nb).map { b =>
          val parts = (0 until rpb).map(j => s"h${rpb * b + j}")
            .mkString(", ")
          s"SELECT doc_id, $b AS band, concat_ws('|', $parts) AS bkey FROM sig"
        }.mkString("\n  UNION ALL\n  ")
      }
      def armFor(nb: Int): String = {
        val rpb = K / nb
        s"""SELECT $nb AS bands, $rpb AS rows_per_band,
           |  count(*) AS n_cand,
           |  CAST(coalesce(sum(t.one), 0) AS BIGINT) AS n_hit
           |FROM cand_$nb c
           |LEFT JOIN th t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b"""
          .stripMargin
      }
      def candFor(nb: Int): String =
        s"""bands_$nb AS (
           |  ${bandsFor(nb)}),
           |cand_$nb AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands_$nb a JOIN bands_$nb b
           |    ON a.band = b.band AND a.bkey = b.bkey
           |      AND a.doc_id < b.doc_id)""".stripMargin
      val jacc =
        "floor((inter / (sa.sz + sb.sz - inter)) * 10000.0 + 0.5) / 10000.0"
      s"""WITH ${gramsSql(3)},
         |hashed AS (
         |  SELECT doc_id,
         |    ${Hashing.md5U32Sql("gram")} AS ha,
         |    ${Hashing.md5U32bSql("gram")} AS hb
         |  FROM grams),
         |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM grams
         |          GROUP BY doc_id),
         |keep AS (SELECT gram FROM grams GROUP BY gram
         |         HAVING count(*) BETWEEN 2 AND $maxDf),
         |gf AS (SELECT g.doc_id, g.gram FROM grams g
         |       JOIN keep USING (gram)),
         |tp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM gf a JOIN gf b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |th AS (
         |  SELECT doc_a, doc_b, 1 AS one
         |  FROM tp
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE $jacc >= 0.5),
         |tn AS (SELECT count(*) AS n_truth FROM th),
         |${candFor(2)},
         |${candFor(4)},
         |${candFor(8)},
         |arms AS (
         |  ${armFor(2)}
         |  UNION ALL
         |  ${armFor(4)}
         |  UNION ALL
         |  ${armFor(8)})
         |SELECT CAST(bands AS BIGINT) AS bands,
         |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |  n_cand, n_truth, n_hit,
         |  ${intDivSql("10000 * n_hit", "n_truth")} AS recall_e4,
         |  CASE WHEN n_cand > 0
         |    THEN ${intDivSql("10000 * n_hit", "n_cand")}
         |    ELSE 0 END AS precision_e4
         |FROM arms, tn ORDER BY bands""".stripMargin
    },
    // q41's gram mining restated with per-side denominators; sizes stay
    // ungated (full distinct-shingle counts) exactly like the engine
    "q226_containment" ->
      s"""WITH ${gramsSql(5)},
         |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         |keep AS (SELECT gram FROM grams GROUP BY gram
         |         HAVING count(*) BETWEEN 2 AND $maxDf),
         |hi AS (SELECT gram FROM grams GROUP BY gram
         |       HAVING count(*) > $maxDf),
         |hic AS (SELECT g.doc_id, count(*) AS hi
         |        FROM grams g JOIN hi USING (gram) GROUP BY g.doc_id),
         |gf AS (SELECT g.doc_id, g.gram FROM grams g JOIN keep USING (gram)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM gf a JOIN gf b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
         |    sa.sz AS sz_a, sb.sz AS sz_b,
         |    CAST(COALESCE(ga.hi, 0) AS BIGINT) AS gated_a,
         |    CAST(COALESCE(gb.hi, 0) AS BIGINT) AS gated_b,
         |    floor((inter / sa.sz) * 10000.0 + 0.5) / 10000.0 AS cont_a,
         |    floor((inter / sb.sz) * 10000.0 + 0.5) / 10000.0 AS cont_b
         |  FROM pairs
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  LEFT JOIN hic ga ON doc_a = ga.doc_id
         |  LEFT JOIN hic gb ON doc_b = gb.doc_id)
         |SELECT * FROM scored
         |WHERE greatest(cont_a, cont_b) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // positional-shingle run detection stated on the gram STRINGS (the
    // engine's xxhash64 keys never surface); DuckDB's 1-based positions
    // shift pa, pb, diag and isl by constants, which run-length grouping
    // is invariant to
    "q192_substring_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        |  FROM toks WHERE len(t) >= 8),
        |sh AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g
        |  FROM idx),
        |keep AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 100),
        |gf AS (SELECT s.doc_id, s.pos, s.g FROM sh s JOIN keep USING (g)),
        |m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
        |    a.pos - b.pos AS diag
        |  FROM gf a JOIN gf b ON a.g = b.g AND a.doc_id < b.doc_id),
        |mi AS (
        |  SELECT doc_a, doc_b, diag, pa,
        |    pa - row_number()
        |      OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
        |  FROM m),
        |runs AS (
        |  SELECT doc_a, doc_b, diag, isl,
        |    count(*) + 7 AS overlap_tokens
        |  FROM mi GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b,
        |  CAST(max(overlap_tokens) AS BIGINT) AS max_overlap_tokens,
        |  count(*) AS n_overlaps
        |FROM runs WHERE overlap_tokens >= 12
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // span identity stated on the gram STRINGS (the engine shuffles
    // xxhash64 keys — invisible to the result, as in q41)
    "q147_span_dedup_census" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |idx AS (
         |  SELECT doc_id, source, t,
         |    unnest(generate_series(1, len(t) - 7)) AS i
         |  FROM toks WHERE len(t) >= 8),
         |spans AS (
         |  SELECT DISTINCT doc_id, source,
         |    array_to_string(t[i:i+7], ' ') AS gram
         |  FROM idx),
         |df AS (SELECT gram, count(*) AS df FROM spans GROUP BY 1)
         |SELECT source, count(*) AS n_spans,
         |  CAST(sum(CAST(s.df > 1 AS BIGINT)) AS BIGINT) AS n_dup_spans,
         |  ${intDivExactSql(
              "CAST(sum(CAST(s.df > 1 AS BIGINT)) AS HUGEINT) * 1000000",
              "count(*)")} AS dup_ratio_e6
         |FROM spans JOIN df s USING (gram)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "q40_dedup_exact" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT doc_id, fp,
         |  CAST(doc_id <> min(doc_id) OVER (PARTITION BY fp) AS INT) AS is_dup
         |FROM f ORDER BY doc_id""".stripMargin,
    // q156's census shape pointed at provenance: same jp edges, cells
    // keyed by the two docs' sources
    "q239_dup_flow" ->
      s"""WITH $jaccardCtes
         |SELECT least(a.source, b.source) AS src_lo,
         |  greatest(a.source, b.source) AS src_hi,
         |  count(*) AS n_pairs,
         |  CAST(least(a.source, b.source) <> greatest(a.source, b.source)
         |    AS BIGINT) AS is_cross
         |FROM jp
         |JOIN documents a ON jp.doc_a = a.doc_id
         |JOIN documents b ON jp.doc_b = b.doc_id
         |WHERE jaccard >= 0.3
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q156_split_leakage" -> {
      val u = graft.functions.Hashing.md5UniformSql("CAST(doc_id AS VARCHAR)")
      s"""WITH $jaccardCtes,
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN $u < 0.8 THEN 'train'
         |         WHEN $u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT least(a.split, b.split) AS split_lo,
         |  greatest(a.split, b.split) AS split_hi,
         |  count(*) AS n_pairs,
         |  CAST(least(a.split, b.split) <> greatest(a.split, b.split)
         |    AS BIGINT) AS is_leak
         |FROM jp
         |JOIN sp a ON jp.doc_a = a.doc_id
         |JOIN sp b ON jp.doc_b = b.doc_id
         |WHERE jaccard >= 0.3
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // q67's recursive-CC clusters, split by CLUSTER hash, then the q156
    // census over the same jp edge set — only same-split buckets can
    // exist, and the hash-match proves it
    "q198_groupwise_split" -> {
      val u = graft.functions.Hashing
        .md5UniformSql("CAST(cluster_id AS VARCHAR)")
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM jp),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id
         |       FROM reach GROUP BY id),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN $u < 0.8 THEN 'train'
         |         WHEN $u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM cl)
         |SELECT least(a.split, b.split) AS split_lo,
         |  greatest(a.split, b.split) AS split_hi,
         |  count(*) AS n_pairs,
         |  CAST(least(a.split, b.split) <> greatest(a.split, b.split)
         |    AS BIGINT) AS is_leak
         |FROM jp
         |JOIN sp a ON jp.doc_a = a.doc_id
         |JOIN sp b ON jp.doc_b = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q151_incremental_dedup" ->
      s"""WITH $jaccardCtes,
         |f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
         |ex AS (
         |  SELECT DISTINCT n.doc_id FROM f n
         |  WHERE n.doc_id >= 250 AND EXISTS (
         |    SELECT 1 FROM f o WHERE o.doc_id < 250 AND o.fp = n.fp)),
         |nr AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM jp
         |  WHERE doc_a < 250 AND doc_b >= 250 AND jaccard >= 0.3)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN ex.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS exact_dup,
         |  CAST(CASE WHEN nr.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS near_dup
         |FROM documents d
         |LEFT JOIN ex ON d.doc_id = ex.doc_id
         |LEFT JOIN nr ON d.doc_id = nr.doc_id
         |WHERE d.doc_id >= 250
         |ORDER BY d.doc_id""".stripMargin,
    "q41_dedup_jaccard" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, inter, jaccard FROM jp
         |ORDER BY doc_a, doc_b""".stripMargin,
    // same fingerprint min + CC canonical flags, exact-first attribution
    "q341_dedup_attrition" -> {
      import graft.functions.Rounding.intDivExactSql
      val de = intDivExactSql(
        "CAST(n_docs - n_kept AS HUGEINT) * 20000 + n_docs", "2 * n_docs")
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM jp),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id AS doc_id, min(comp) AS comp FROM reach
         |       GROUP BY id),
         |fpd AS (SELECT doc_id, source, md5($normSql) AS fp
         |        FROM documents),
         |fpm AS (SELECT fp, min(doc_id) AS fp_min FROM fpd GROUP BY fp),
         |flags AS (
         |  SELECT fpd.source,
         |    CAST(fpd.doc_id = fpm.fp_min AS BIGINT) AS ke,
         |    CAST(fpd.doc_id = cl.comp AS BIGINT) AS kn
         |  FROM fpd JOIN fpm USING (fp) JOIN cl USING (doc_id)),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ke * kn) AS BIGINT) AS n_kept,
         |    CAST(sum(1 - ke) AS BIGINT) AS n_dropped_exact,
         |    CAST(sum(ke * (1 - kn)) AS BIGINT) AS n_dropped_near
         |  FROM flags GROUP BY source)
         |SELECT source, n_docs, n_kept, n_dropped_exact, n_dropped_near,
         |  $de AS drop_e4
         |FROM agg ORDER BY source""".stripMargin
    },
    "q67_dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM jp),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, min(comp) AS cluster_id,
         |  min(comp) = id AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same closure, rolled into per-cluster direct-evidence shares
    "q316_cluster_transitivity" -> {
      import graft.functions.Rounding.{intDivSql, intDivExactSql}
      val poss = intDivSql("n_members * (n_members - 1)", "2")
      val share = intDivExactSql(
        "CAST(n_direct AS HUGEINT) * 20000 + n_possible", "2 * n_possible")
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM jp),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         |sz AS (SELECT comp, count(*) AS n_members FROM cl GROUP BY comp
         |       HAVING count(*) >= 2),
         |intra AS (
         |  SELECT cl.comp, count(*) AS n_direct,
         |    min(jaccard) AS min_jaccard, max(jaccard) AS max_jaccard
         |  FROM jp JOIN cl ON jp.doc_a = cl.id GROUP BY cl.comp),
         |j AS (
         |  SELECT sz.comp AS cluster_id, n_members, $poss AS n_possible,
         |    n_direct, min_jaccard, max_jaccard
         |  FROM sz JOIN intra ON sz.comp = intra.comp)
         |SELECT cluster_id, n_members, n_possible, n_direct,
         |  $share AS direct_share_e4, min_jaccard, max_jaccard
         |FROM j ORDER BY cluster_id""".stripMargin
    },
    "q42_dedup_minhash" -> minhashSql,
    "q211_para_near_dup" -> paraMinhashSql,
    // q40's fingerprint window + q67's recursive-CC clusters + per-source
    // token budget, composed on the same jp edge set
    "q219_dedup_funnel" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM jp),
         |reach(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id AS doc_id, min(comp) <> id AS nc
         |       FROM reach GROUP BY id),
         |f AS (
         |  SELECT doc_id, source,
         |    len(regexp_split_to_array(lower(trim(text)), '\\s+'))
         |      AS n_toks,
         |    md5($normSql) AS fp
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id,
         |    doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_ex
         |  FROM f)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CAST(is_ex AS INT)) AS BIGINT) AS n_exact_dup,
         |  CAST(sum(CAST(NOT is_ex AND nc AS INT)) AS BIGINT)
         |    AS n_near_dup,
         |  CAST(sum(CAST(NOT is_ex AND NOT nc AS INT)) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN NOT is_ex AND NOT nc THEN n_toks ELSE 0 END)
         |    AS BIGINT) AS tokens_kept
         |FROM f JOIN ex USING (doc_id) JOIN cl USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    // candidates + exact Jaccard stated on gram TEXT; the engine keys the
    // same sets on xxhash64 (invisible to the result, as in q41)
    "q197_lsh_calibration" ->
      s"""WITH $minhashCtes,
        |sz AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |i AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c
        |  JOIN grams ga ON ga.doc_id = c.doc_a
        |  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |  CAST(floor(c.est_sim * 10000.0 + 0.5) AS BIGINT) AS est_e4,
        |  CAST(floor((CAST(coalesce(i.inter, 0) AS DOUBLE) /
        |    (sa.sz + sb.sz - coalesce(i.inter, 0))) * 10000.0 + 0.5)
        |    AS BIGINT) AS jacc_e4,
        |  CAST(floor(c.est_sim * 10000.0 + 0.5) -
        |    floor((CAST(coalesce(i.inter, 0) AS DOUBLE) /
        |      (sa.sz + sb.sz - coalesce(i.inter, 0))) * 10000.0 + 0.5)
        |    AS BIGINT) AS err_e4
        |FROM cand c
        |JOIN sz sa ON c.doc_a = sa.doc_id
        |JOIN sz sb ON c.doc_b = sb.doc_id
        |LEFT JOIN i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    "q43_dedup_simhash" -> simhashSql,
    "q176_simhash_pairs" -> simhashPairsSql,
    "q177_sorted_neighbors" ->
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents),
         |o AS (
         |  SELECT doc_id, norm,
         |    lead(doc_id) OVER (ORDER BY norm, doc_id) AS doc_b,
         |    lead(norm) OVER (ORDER BY norm, doc_id) AS nb
         |  FROM d)
         |SELECT doc_id AS doc_a, doc_b, substr(norm, 1, 32) AS shared_prefix
         |FROM o
         |WHERE doc_b IS NOT NULL AND substr(norm, 1, 32) = substr(nb, 1, 32)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q44_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  floor((list_cosine_similarity(a.v, b.v)) * 10000.0 + 0.5) / 10000.0 AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE floor((list_cosine_similarity(a.v, b.v)) * 10000.0 + 0.5) / 10000.0 >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    // the all-pairs formulation the SymSpell join provably equals
    "q100_fuzzy_match" ->
      """SELECT a.c_name AS a, b.c_name AS b
        |FROM customer a JOIN customer b
        |  ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a, b""".stripMargin)
}
