package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundf
import graft.functions.TextAnalysis.{fingerprint, hashedNgramsFromTokens,
  tokensCol}

/** The user-facing dedup API: the composed "give me the deduplicated
  * corpus" entry points a library consumer calls, built from the same
  * oracle-checked stages the q40/q41/q67 queries expose individually
  * (fingerprint → shingle-Jaccard candidates → connected components →
  * canonical-keeper selection).
  *
  * Everything is a keyed join or aggregation — candidate generation goes
  * through the per-shingle document lists (df-capped fan-out), never an
  * all-pairs product, and clustering is [[ConnectedComponents]]'
  * alternating-star rounds, O(log n) of them on any pair graph. See DedupQueries' scaladoc for the 100 TB
  * posture of each stage.
  */
object DedupPipeline {

  /** Exact dedup: one row per distinct text fingerprint, keeping the
    * row with the minimum id (deterministic). One hash aggregation +
    * one semi-join shaped filter via the keeper id list. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = df
      .select(col(idCol), fingerprint(col(textCol)).as("__fp"))
      .groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Shared pair-mining core: (id_a, id_b, inter, sz_a, sz_b) with
    * id_a < id_b — the n-gram intersection count plus both documents'
    * full distinct-shingle counts. Shingles shuffle as xxhash64 longs;
    * a document-frequency gate (2 ≤ df ≤ maxDf) runs as an unordered
    * `count(1) over (partition by gram)` window on the SAME gram-keyed
    * exchange the posting aggregation reuses (one shuffle of the
    * exploded relation instead of the two-pass count-aggregate +
    * join-back, which re-ran the tokenize + shingle chain once per gate
    * side — r20, guide §2.4), so no posting LIST is ever built for a
    * gated gram: the filter sits above the window and below the
    * `collect_set`, which therefore buffers at most maxDf ids per gram.
    * The honest cost of the window form (ADVICE r20): every occurrence
    * of a hot (stopword) gram still SHUFFLES to its gram's task and is
    * buffered by WindowExec (spilling past the in-memory threshold)
    * before the filter drops it — bounded by the hottest gram's df. On
    * a corpus with adversarial gram skew (one gram on a large fraction
    * of all documents) the retired two-pass form is the right trade
    * despite its double chain cost: its df count combines map-side
    * (one row per gram per map task) and the broadcast join-back drops
    * hot-gram occurrences WITHOUT shuffling them. df = 1 shingles
    * contribute to no pair (dropping them is lossless); df > maxDf
    * shingles UNDERCOUNT `inter` for the pairs they span — the standard
    * bounded-fan-out trade every LSH-free pair miner makes. Sizes are
    * ungated, so the similarity denominators below always see the full
    * shingle sets. */
  private def interPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Long, gatedCounts: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // adaptive fan-out (r20, guide §2.5): tokenize + n-gram hashing is
    // the chain's CPU wall and fuses onto the scan's map stage — one
    // partition on a one-row-group fixture file. No-op at real split
    // counts (see ReadParallelism).
    val toksDf = ReadParallelism.fanOut(
      df.select(col(idCol).as("__id"), col(textCol).as("__text")),
      col("__id"))
      .select(col("__id"), tokensCol(col("__text")).as("__toks"))
    val g = toksDf.select(col("__id"),
      explode(hashedNgramsFromTokens(col("__toks"), n)).as("gram"))
    // per-doc distinct-shingle sizes come from the SAME exploded
    // relation (hashedNgramsFromTokens dedups per doc, so the row count
    // per __id IS the set size — a doc with < n tokens has no grams and
    // no pairs either, so its absence is harmless); the previous
    // size(...) projection re-ran the tokenize + n-gram build a second
    // time (r20, guide §2.3 — aggregate instead of recompute).
    val sizes = g.groupBy("__id").agg(count(lit(1)).as("sz"))
    // df gate as an unordered window over the gram key (r20, guide
    // §2.4 — the q147 one-shuffle discipline): the gate filter and the
    // posting-list aggregation share ONE gram-keyed exchange, where the
    // count-aggregate + join-back form re-ran the shingle chain per
    // gate side. The collect_set stays bounded exactly as before — the
    // filter sits above the window and below the aggregation.
    val gated = g.withColumn("df",
      count(lit(1)).over(Window.partitionBy("gram")))
    val byGram = gated
      .filter(col("df").between(2, maxDf))
      .groupBy("gram")
      .agg(sort_array(collect_set(col("__id"))).as("ds"))
    val pairs = byGram.select(explode(expr(
      "flatten(transform(ds, x -> transform(filter(ds, y -> y > x), " +
        "y -> named_struct('id_a', x, 'id_b', y))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    val inter = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sa = sizes.select(col("__id").as("id_a"), col("sz").as("sz_a"))
    val sb = sizes.select(col("__id").as("id_b"), col("sz").as("sz_b"))
    val base = inter.join(sa, "id_a").join(sb, "id_b")
    if (!gatedCounts) base
    else {
      // undercount DETECTOR (round-10 advice): per doc, how many of its
      // distinct grams fell to the df > maxDf gate. For any pair, the
      // gated grams doc A and doc B could still share is at most
      // min(gated_a, gated_b), so true inter ≤ inter + least(gated_a,
      // gated_b) — callers bound the recall loss per pair instead of
      // trusting the gate blindly. Same windowed relation (the other
      // side of the df gate), one more count aggregation + two
      // user-scale joins; df = 1 grams are NOT gated (they provably
      // intersect nothing).
      val hiPerDoc = gated
        .filter(col("df") > maxDf)
        .groupBy("__id").agg(count(lit(1)).as("hi"))
      val ha = hiPerDoc.select(col("__id").as("id_a"),
        col("hi").as("gated_a"))
      val hb = hiPerDoc.select(col("__id").as("id_b"),
        col("hi").as("gated_b"))
      base.join(ha, Seq("id_a"), "left")
        .join(hb, Seq("id_b"), "left")
        .withColumn("gated_a", coalesce(col("gated_a"), lit(0L)))
        .withColumn("gated_b", coalesce(col("gated_b"), lit(0L)))
    }
  }

  /** Near-dup candidate pairs by word n-gram Jaccard: (id_a, id_b,
    * inter, jaccard) with id_a < id_b, jaccard ≥ minJaccard. See
    * [[interPairs]] for the df-gate / fan-out discipline. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minJaccard: Double = 0.1,
      maxDf: Long = 1000): DataFrame =
    interPairs(df, idCol, textCol, n, maxDf)
      .withColumn("jaccard",
        roundf(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "jaccard")

  /** Containment near-dup pairs — the asymmetric-size complement of
    * [[nearDupPairs]]. Jaccard is blind to one document swallowing a
    * much smaller one: a 30-shingle doc fully embedded in a 300-shingle
    * doc scores J = 30/300 = 0.1 and slips under every Jaccard
    * threshold, yet for corpus curation it IS a duplicate (quote
    * farms, boilerplate-wrapped reposts, doc-in-doc concatenations).
    * Broder's containment C(A→B) = |A∩B| / |A| catches exactly this;
    * we emit BOTH directions (cont_a = inter/|A|, cont_b = inter/|B|)
    * and keep a pair when either direction clears minContainment —
    * max(cont_a, cont_b) is the overlap coefficient. Same keyed
    * posting-list mining as Jaccard (no all-pairs product, df-gated
    * fan-out), so the 100 TB posture is unchanged.
    *
    * '''`maxDf` is a RECALL knob here, more than anywhere else.''' The
    * df gate drops grams shared by more than `maxDf` documents before
    * any posting list is buffered; `inter` is undercounted by exactly
    * the gated grams a pair shares, while `sz_a`/`sz_b` stay ungated.
    * Containment's motivating case — boilerplate-wrapped reposts,
    * doc-in-doc concatenations — is built FROM high-df boilerplate, so
    * it is the case the gate bites hardest: a pair can sit below
    * `minContainment` purely because its shared grams were popular.
    * Two mitigations ship with the operator: (1) raise `maxDf` — cost
    * grows linearly in the per-gram fan-out bound; (2) read the
    * `gated_a`/`gated_b` columns, each the count of that document's
    * grams dropped by the gate: true inter ≤ inter + least(gated_a,
    * gated_b), so `(inter + least(gated_a, gated_b)) / sz_a` is a sound
    * upper bound on true cont_a — a pair whose BOUND clears the
    * threshold is exactly one to re-mine at higher maxDf. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minContainment: Double = 0.5,
      maxDf: Long = 1000): DataFrame =
    interPairs(df, idCol, textCol, n, maxDf, gatedCounts = true)
      .withColumn("cont_a", roundf(col("inter") / col("sz_a"), 4))
      .withColumn("cont_b", roundf(col("inter") / col("sz_b"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b",
        "gated_a", "gated_b", "cont_a", "cont_b")

  /** Near-dedup: cluster the ≥-threshold pair graph with connected
    * components (similarity is not transitive — A~B~C clusters all three
    * even when A~C misses), keep each cluster's min-id row. Returns the
    * deduplicated corpus with the original schema. */
  def near(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5,
      maxDf: Long = 1000): DataFrame = {
    val keepers = nearComponents(df, idCol, textCol, n, threshold, maxDf)
      .filter(col("id") === col("comp"))
      .select(col("id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** The near-dup COMPONENT MAP behind [[near]]: (id, comp) with comp =
    * the component's minimum id (the CC label contract), one row per
    * input document. Exposed so a caller that needs both the survivor
    * set AND cluster-level decisions (keeper-policy comparison,
    * attrition forensics) runs the expensive CC exactly once —
    * [[near]]'s keeper rule is `id == comp` over this frame. Returned
    * as ConnectedComponents' checkpoint: already materialized, with
    * nothing for the caller to release. */
  def nearComponents(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5,
      maxDf: Long = 1000): DataFrame = {
    val edges = nearDupPairs(df, idCol, textCol, n, threshold, maxDf)
      .select("id_a", "id_b")
    ConnectedComponents
      .components(df.select(col(idCol)), edges, idCol, "id_a", "id_b")
  }
}
