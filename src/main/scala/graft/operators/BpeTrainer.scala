package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.CheckpointBlocks.checkpoint

/** Distributed BPE tokenizer training — the iterative half of the
  * tokenizer-prep surface (q359 censuses merge candidates for ONE
  * round; this runs the actual Sennrich-style training loop at corpus
  * scale and returns the merge list a tokenizer ships).
  *
  * Shape per round (all corpus-scale work stays distributed):
  *   1. adjacent-pair census over the WORD-FREQUENCY table — one
  *      map-side-combined aggregation; the table is vocabulary-scale
  *      (distinct words × freq), never corpus-scale, because BPE
  *      statistics are invariant to where a word occurs.
  *   2. top-K pairs under the deterministic (count desc, a, b) order —
  *      one small TakeOrdered collect. One driver round-trip per ROUND
  *      is the irreducible cost of a sequential decision process (the
  *      KMeans/CC scheduler-floor argument); with `batch` > 1 a round
  *      commits up to `batch` provably non-interacting merges
  *      ([[selectBatch]]), so a 32k-merge tokenizer vocabulary costs
  *      ~vocab/batch Spark rounds, not 32k. The collected values are
  *      merge rules, bounded by `rounds`, never data.
  *   3. greedy left-to-right merge of the chosen pair(s) inside every
  *      AFFECTED word's symbol array — a codegen'd `aggregate` fold with
  *      a skip flag (consumed positions can't re-match: 'aaa' + (a,a) →
  *      [aa,a]); a batch's merges compose into ONE projection, each
  *      level bound as a lambda variable. Affected-word pruning (the
  *      r15 rewrite-cost item): only words containing a selected pair
  *      as an ADJACENT symbol pair pass through the fold — for every
  *      other word each level is provably the identity, so a lazy
  *      CASE WHEN hands them through untouched and the round's fold
  *      cost follows the merged pair's type frequency (head merges
  *      touch a few percent of the vocabulary, tail merges almost
  *      none) instead of the full vocabulary every round. The round
  *      result is eagerly
  *      localCheckpoint'd so each round's plan is a LEAF (the
  *      ConnectedComponents lineage-re-anchoring rule: without it the
  *      driver re-analyzes a per-round-growing tree), and the previous
  *      round's blocks are released.
  *
  * Ties and order are fully deterministic, so the merge sequence is
  * identical across runs, partitionings, and engines — BpeTrainerSpec
  * pins the distributed loop against a sequential reference
  * implementation and across shuffle-partition counts. */
object BpeTrainer {

  /** One learned merge rule: `a`+`b` → `a+b`, chosen at `count`
    * weighted adjacent occurrences. */
  final case class Merge(a: String, b: String, count: Long)

  /** Adjacent symbol pairs of `s` as structs (a, b); empty for
    * single-symbol words. The `size >= 2` guard matters: Spark's
    * `sequence(1, 0)` counts DOWN ([1, 0]), it does not return empty. */
  private def adjPairs(s: Column): Column =
    when(size(s) >= 2,
      transform(sequence(lit(1), size(s) - 1),
        i => struct(element_at(s, i).as("a"),
          element_at(s, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Greedy left-to-right merge of (a, b) → ab inside a symbol array —
    * an `aggregate` fold over positions carrying (output, skip): a
    * matched position appends the merged symbol and skips its partner,
    * so overlapping candidates resolve exactly like the sequential
    * scan ('aaa' with (a,a) → [aa, a], never [a, aa] or [aa, aa]).
    * Arrays shorter than a pair return unchanged — the guard matters
    * for the EMPTY array `encode` can see on whitespace-only text,
    * where `sequence(1, 0)` would count DOWN and index position 0. */
  private[graft] def mergeGreedy(s: Column, a: String, b: String): Column =
    when(size(s) < 2, s).otherwise(mergeFold(s, a, b))

  private def mergeFold(s: Column, a: String, b: String): Column =
    aggregate(
      sequence(lit(1), size(s)),
      struct(array().cast("array<string>").as("out"),
        lit(false).as("skip")),
      (acc, i) => {
        val cur = element_at(s, i)
        val isMerge = !acc.getField("skip") && (i < size(s)) &&
          cur === lit(a) && element_at(s, i + 1) === lit(b)
        struct(
          when(acc.getField("skip"), acc.getField("out"))
            .when(isMerge, array_append(acc.getField("out"), lit(a + b)))
            .otherwise(array_append(acc.getField("out"), cur)).as("out"),
          when(acc.getField("skip"), lit(false)).otherwise(isMerge)
            .as("skip"))
      },
      acc => acc.getField("out"))

  /** The word-frequency table seeded with character symbols:
    * (word, symbols, freq). Vocabulary-scale. */
  private def seedWords(docsDf: DataFrame, textCol: String): DataFrame =
    docsDf
      .select(explode(TextAnalysis.tokensCol(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"),
        filter(split(col("word"), ""), c => c =!= "").as("symbols"),
        col("freq"))

  /** Train `rounds` merges over the corpus behind `textCol`.
    *
    * `batch` > 1 amortizes the loop's per-merge costs — with batch = B a
    * round runs ONE census, ONE top-K collect, and ONE word-table
    * rewrite + checkpoint for up to B merges, instead of one of each PER
    * merge (one driver round-trip and one full vocab rewrite per merge is
    * fine for 3 rounds, but is 32k sequential Spark jobs for a real
    * tokenizer vocab — the r14-verdict scale caveat). The merge SEQUENCE
    * is provably identical to batch = 1 (see [[selectBatch]]);
    * BpeTrainerSpec pins the equivalence on fixtures where batch pairs
    * interact and force deferrals.
    *
    * @param probe when set, called once per round with (round index,
    *        affected word count, total word count) — measurement hook
    *        for the rewrite-pruning win; the counts cost two extra jobs
    *        per round, so the production path (None) never pays them.
    * @return (final word table (word, symbols, freq) — already
    *         materialized via localCheckpoint, and the ordered merge
    *         list). Stops early when no pair remains (every word fully
    *         merged to one symbol). */
  def train(docsDf: DataFrame, textCol: String,
      rounds: Int, batch: Int = 1,
      probe: Option[(Int, Long, Long) => Unit] = None)
      : (DataFrame, Seq[Merge]) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    var round = 0
    var words = checkpoint(seedWords(docsDf, textCol))
    val merges = scala.collection.mutable.ListBuffer[Merge]()
    var done = false
    while (merges.length < rounds && !done) {
      val want = math.min(batch, rounds - merges.length)
      // candidate window: enough headroom past the batch to SEE the
      // first interacting candidate (selectBatch's stop/trim bound)
      val k = math.max(16, 4 * want + 8)
      val top = words
        .select(col("freq"), explode(adjPairs(col("symbols"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(k).collect()
        .map(r => Merge(r.getAs[String]("a"), r.getAs[String]("b"),
          r.getAs[Long]("cnt"))).toSeq
      if (top.isEmpty) done = true
      else {
        val sel =
          if (want == 1) top.take(1)
          else {
            // symbol-collision probe: a candidate whose concatenation
            // ALREADY exists as a vocabulary symbol would, once merged,
            // ADD occurrences to existing census keys — breaking the
            // emergent-count bound selectBatch's trim relies on, so such
            // candidates end the batch (selected solo if first). One
            // tiny filtered distinct over the checkpointed vocab table
            // per ROUND, amortized over the batch's merges.
            val concats = top.map(m => m.a + m.b).distinct
            val existing = words
              .select(explode(col("symbols")).as("sym"))
              .filter(col("sym").isin(concats: _*))
              .distinct().collect().map(_.getString(0)).toSet
            selectBatch(top, want, windowFull = top.length == k, existing)
          }
        merges ++= sel
        val prev = words
        // affected-word pruning: the fold below is the identity on any
        // word with NO selected pair adjacent in its symbols, so only
        // the hit side pays it; the rest unions back unrewritten. The
        // predicate is decidable on the PRE-batch symbols because batch
        // merges are mutually conflict-free (selectBatch): no later
        // merge's operand is a symbol an earlier one mints, so a word
        // untouched by every selected pair stays untouched through the
        // whole composed fold.
        val hit = exists(adjPairs(col("symbols")), p =>
          sel.map(m => p.getField("a") === lit(m.a) &&
            p.getField("b") === lit(m.b)).reduce(_ || _))
        // all selected merges fold in ONE projection — each level bound
        // as a lambda variable so the tree stays linear in batch size
        val folded = sel.foldLeft(col("symbols")) { (c, m) =>
          bound(c)(lvl => mergeGreedy(lvl, m.a, m.b))
        }
        probe.foreach { f =>
          f(round, prev.filter(hit).count(), prev.count())
        }
        // ONE conditional pass, not filter+union: codegen'd CASE WHEN
        // evaluates lazily, so the fold runs only for hit rows exactly
        // like the filtered form — but the table keeps its partition
        // count (a union of two filtered sides doubles partitions every
        // round: N·2^rounds tasks by the end, a self-inflicted scale
        // bug the r16 bench caught as a 2× slower warm read).
        words = prev
          .select(col("word"),
            when(hit, folded).otherwise(col("symbols")).as("symbols"),
            col("freq"))
          .transform(checkpoint)
        // release the superseded round's blocks — the new checkpoint is
        // already materialized, nothing reads the old one again
        CheckpointBlocks.release(prev)
        round += 1
      }
    }
    (words, merges.toList)
  }

  /** All strings a merge touches or creates: its operand symbols and
    * their concatenation (the new symbol it mints). */
  private def strs(m: Merge): Set[String] = Set(m.a, m.b, m.a + m.b)

  /** Candidate `c` interacts with a selected pair when any of their
    * touched-or-minted strings coincide: sharing an operand means the
    * earlier merge consumes/creates adjacencies that change `c`'s count;
    * a concat collision means their emergent keys alias. */
  private def interacts(c: Merge, sel: Seq[Merge]): Boolean = {
    val cs = strs(c)
    sel.exists(s => strs(s).exists(cs.contains))
  }

  /** Choose the batch: the maximal conflict-free PREFIX of the census in
    * (count desc, a, b) order, then an emergent-tie trim. Equivalence to
    * the sequential loop, merge for merge:
    *
    *   - PREFIX, stopping at the FIRST non-selectable candidate: a
    *     skipped-but-kept-scanning candidate could outrank later
    *     selections once earlier merges shift counts, so nothing after
    *     the first conflict is taken. Hence every census pair that
    *     interacts with a batch pair sits at order-position ≥ the stop,
    *     i.e. count ≤ `stopCnt`.
    *   - EMERGENT BOUND: merging disjoint pairs cannot change a
    *     disjoint pair's count; every NEW pair key a merge creates maps
    *     occurrence-for-occurrence onto an old census pair that
    *     interacted with a selected pair — so emergent counts are
    *     ≤ `stopCnt` (collision candidates, which would let emergent
    *     mass ADD to existing keys and break this bound, stop the batch
    *     via `vocabCollisions`).
    *   - TRIM: a batch pair with count == stopCnt could TIE an emergent
    *     pair, and the (a, b) tie-break against a not-yet-minted symbol
    *     string is unknowable at selection time — so after the head
    *     (always sequential-correct: it is the census argmax) the batch
    *     keeps only counts STRICTLY above stopCnt.
    *
    * With the batch so chosen, the sequential loop provably picks exactly
    * these pairs in exactly this order; applying them as one composed
    * left-to-right fold is the same per-word rewrite the sequential loop
    * performs. */
  private[graft] def selectBatch(top: Seq[Merge], want: Int,
      windowFull: Boolean, vocabCollisions: Set[String]): Seq[Merge] = {
    val sel = scala.collection.mutable.ListBuffer[Merge]()
    var i = 0
    // count bound on every non-selected / unseen / emergent pair;
    // -1 = census exhausted conflict-free (nothing to tie against)
    var stopCnt = -1L
    var stopped = false
    while (!stopped && i < top.length && sel.length < want) {
      val c = top(i)
      val collides = vocabCollisions.contains(c.a + c.b)
      if (sel.isEmpty) {
        sel += c
        // a colliding head is still the true argmax — select it solo
        if (collides) { stopped = true; stopCnt = Long.MaxValue }
      } else if (collides || interacts(c, sel.toSeq)) {
        stopped = true
        stopCnt = c.count
      } else sel += c
      i += 1
    }
    if (!stopped) stopCnt =
      if (i < top.length) top(i).count // budget-stop: unseen from here
      else if (windowFull) top.last.count // census may extend past the window
      else -1L // census exhausted: provably nothing emergent to tie
    (sel.head +: sel.tail.takeWhile(_.count > stopCnt)).toList
  }

  /** Re-bind an expression as a LAMBDA VARIABLE before fanning it out:
    * `mergeGreedy` references its input ~6 times, so naively folding k
    * merge levels duplicates the child subtree 6^k times — at k = 5
    * that is a ~10⁴-node expression whose analysis/codegen GC-thrashes
    * the driver (observed: the encode spec hung the full suite). Routing
    * each level through `transform(array(child), lvl -> f(lvl))` makes
    * every self-reference a leaf variable, so the tree grows LINEARLY
    * in the merge count. */
  private def bound(child: Column)(f: Column => Column): Column =
    element_at(transform(array(child), lvl => f(lvl)), 1)

  /** Deploy the trained tokenizer: segment `textCol`'s words with the
    * learned merges, returning the input plus a `pieces` column
    * (Array[Array[String]] — per word, its BPE symbols). Each merge
    * level is [[bound]], so the expression stays linear in the merge
    * count. Encoding is per-word stateless, so it runs identically on a
    * batch frame or a foreachBatch micro-batch. */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame =
    df.withColumn("pieces",
      transform(TextAnalysis.tokensCol(col(textCol)), w =>
        merges.foldLeft(filter(split(w, ""), c => c =!= "")) {
          (symbols, m) => bound(symbols)(lvl => mergeGreedy(lvl, m.a, m.b))
        }))
}
