package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.operators.{Ivf, Lsh}
import graft.operators.SessionDirMemo.pin
import graft.operators.CheckpointBlocks.checkpoint

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (BASELINE.json north star).
  *
  * q50 is the exact baseline: brute-force cosine top-k of a small broadcast
  * query set against all vectors — one broadcast nested-loop join, no
  * shuffle of the big side, dot products through the native fused
  * cosine_sim expression (no UDF).
  *
  * q51 is the LSH scale path: multi-band sign-LSH (32 bands × 4 bits,
  * deterministic md5-derived planes — Lsh.scala) so candidate generation is
  * an equi-join on (band, bucket) instead of a full scan per query. At
  * 100 TB the bands join shuffle-partitions on the bucket key; nothing is
  * ever broadcast at O(N). Recall vs q50 is asserted ≥ 0.8 in
  * SimilaritySpec (measured 1.0 on the test corpus).
  *
  * q56 is the IVF scale path: a bounded deterministic centroid set
  * (Ivf.scala — hash-rate sample, hard cap), nearest-centroid cell
  * assignment, queries probe their 6 nearest cells, exact re-rank within
  * them. On the corpus' uncorrelated synthetic vectors, IVF recall tracks
  * the probed corpus fraction (no cluster structure to exploit), so the
  * probe count is sized for the recall bar; clustered real embeddings reach
  * the same recall probing a far smaller fraction of a much larger cell
  * count — the regime where IVF actually prunes.
  *
  * Cross-engine determinism: every ranking orders by the 4-decimal rounded
  * cosine (ties broken by id), never the raw double — a 1-ulp libm
  * divergence between engines can flip a raw-cosine comparison but cannot
  * move a value across a coarse grid cell boundary it isn't already on.
  */
object SimilarityQueries extends QueryPack {

  private val Bands = 32
  private val Rows = 4 // bits per band
  private val Dim = 64

  /** Deployment probe count for the IVF arm (q56): the
    * `spark.graft.ivf.nprobe` conf when set — how a production run
    * applies q381's tuning-table pick, the IVF analogue of
    * [[lshGeometry]] — else the default 6 the oracle contract pins
    * (IvfTuningSpec pins the conf consumption). A non-positive probe
    * count fails FAST (ADVICE r18): nprobe = 0 would silently probe no
    * cells and return an empty top-k — a misconfigured deployment must
    * error, not produce empty results. */
  private def ivfNProbe(s: SparkSession): Int = {
    val np = s.conf.getOption("spark.graft.ivf.nprobe")
      .map(_.toInt).getOrElse(NProbe)
    require(np > 0, s"spark.graft.ivf.nprobe must be positive, got $np")
    np
  }

  /** Deployment band geometry for the LSH pair substrate: the
    * `spark.graft.lsh.bands` / `spark.graft.lsh.rowsPerBand` conf pair
    * when set (how a production run applies
    * [[graft.operators.Lsh.tunedGeometry]]'s corpus-size rule, and how
    * the scaling sweep's tuned sf~1 row runs — it passes them as
    * -Dspark.graft.lsh.* JVM system properties), else the 32×4 default the
    * oracle contract pins. The driver never sets the conf, so every
    * declared query hashes against the default geometry.
    *
    * Validation (ADVICE r18): a misconfigured pair fails FAST —
    * bands = 0 would silently yield an empty candidate substrate
    * (q51/q232/q378 return zero rows, no error), and a pair whose
    * product ≠ 128 would silently switch to a DIFFERENT hyperplane
    * family, voiding the "re-segment the same signature bits" contract
    * q380's certified recall numbers rest on. */
  private def lshGeometry(s: SparkSession): (Int, Int) = {
    val nb = s.conf.getOption("spark.graft.lsh.bands")
      .map(_.toInt).getOrElse(Bands)
    val r = s.conf.getOption("spark.graft.lsh.rowsPerBand")
      .map(_.toInt).getOrElse(Rows)
    require(nb > 0 && r > 0,
      s"spark.graft.lsh geometry must be positive, got ${nb}x$r")
    require(nb * r == Bands * Rows,
      s"spark.graft.lsh geometry ${nb}x$r re-segments ${nb * r} bits — " +
        s"the tuned-geometry contract re-segments the SAME " +
        s"${Bands * Rows}-bit signature (q380's certified arms)")
    (nb, r)
  }
  private val CentRate = 31
  private val CentCap = 4096
  private val NProbe = 6

  private def embOf(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    embOf(Tables.load(s, dir, "embeddings"))

  /** The full-dimension k=8 / 2-round Lloyd fit is the shared substrate
    * of q118 (inertia), q280 (purity), and q150 (SemDeDup) — each used
    * to rerun the whole fit plus the final broadcast-assign (r13 memo,
    * same rationale as the co-order graph's). Centroids AND assignment
    * are materialized; an evicted pair's blocks are freed by Spark's
    * ContextCleaner once unreachable. */
  private val fullFitMemo =
    new graft.operators.SessionDirMemo[(DataFrame, DataFrame)]

  private def fullKmFit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    fullFitMemo.get(s, dir) {
      val (cents, asg) = graft.operators.KMeans.fit(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        dim = Dim, k = 8, iters = 2)
      // cents is already checkpointed by fit(); asg is lazy — pin it
      (cents, checkpoint(asg))
    }

  /** The symmetric LSH band-bucket candidate pairs (32 bands × 4 bits,
    * a < b, distinct), exact-cosine scored ONCE as the raw fixed-order
    * double, with both labels — the shared substrate of q223 (mutual
    * best match) and q305 (calibration curve), which each used to pay
    * the bucket self-join + distinct + two vector joins themselves
    * (r13 memo, the fullFitMemo rationale). Downstream rounding
    * (roundf e4 / floor e6) applies to the SAME stored double, so both
    * derivations are bit-identical to the inline forms. */
  private val lshPairsMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def lshScoredPairs(s: SparkSession, dir: String)
      : DataFrame = {
    val (nBands, nRows) = lshGeometry(s)
    def build: DataFrame = {
      val e = emb(s, dir)
      val bands = graft.operators.Lsh
        .bandsDf(e, "vec_id", "v", nBands, nRows, Dim)
      val pairs = bands
        .select(col("vec_id").as("a"), col("band"), col("bkey"))
        .join(bands.select(col("vec_id").as("b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
      pairs
        .join(e.select(col("vec_id").as("a"), col("label").as("la"),
          col("v").as("va")), "a")
        .join(e.select(col("vec_id").as("b"), col("label").as("lb"),
          col("v").as("vb")), "b")
        .select(col("a"), col("b"), col("la"), col("lb"),
          graft.expressions.CosineSimilarity.sim(col("va"), col("vb"))
            .as("sim_d"))
    }
    // non-default geometry gets its own memo key: the memo is keyed
    // (session, dir), and a tuned-geometry run (conf set) must never
    // serve a 32×4 build to a consumer expecting the tuned pairs or
    // vice versa
    val key = if (nBands == Bands && nRows == Rows) dir
      else s"$dir#lsh=${nBands}x$nRows"
    lshPairsMemo.get(s, key)(pin(build))
  }

  /** Per-dimension whitening pre-flight — the census a feature
    * pipeline runs before standardizing embeddings (a dimension with
    * runaway variance dominates every cosine; a shifted mean breaks
    * dot-product shortcuts): component values land on the e6 integer
    * grid (float→double cast is exact, ·10⁶ + floor is IEEE-identical
    * in both engines), then per dim the exact mean (signed truncated
    * rational), population variance via the power-sum identity
    * (n·Q − S²)/n² — all decimal(38,0), no float accumulation — and
    * exact min/max. One posexplode + one groupBy(dim): the shuffle
    * carries (dim, component) pairs keyed on the 64-value dim, with
    * map-side partial aggregation doing almost all the work. */
  private def q339(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    emb(s, dir)
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x") * lit(1000000.0) + lit(0.5)).cast("long").as("xe"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xe").cast("decimal(38,0)")).as("s"),
        sum(col("xe").cast("decimal(38,0)") * col("xe")).as("q"),
        min("xe").as("min_e6"), max("xe").as("max_e6"))
      .select(col("dim"), col("n"),
        intDivExact(col("s"), col("n")).as("mean_e6"),
        intDivExact(col("n") * col("q") - col("s") * col("s"),
          col("n").cast("decimal(38,0)") * col("n") * lit(1000000L))
          .as("var_e6"),
        col("min_e6"), col("max_e6"))
      .orderBy("dim")
  }

  /** Brute-force cosine top-10 for query vectors vec_id < 5 — thin
    * face of [[graft.operators.SimilaritySearch]] (Brute), which owns
    * the implementation; SimilaritySearchSpec pins the equivalence. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    graft.operators.SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10,
        graft.operators.SimilaritySearch.Brute)
      .withColumnRenamed("rank", "knn_rank")
  }

  /** Multi-band sign-LSH ANN (32 bands × 4 bits) — thin face of
    * [[graft.operators.SimilaritySearch]] (BandLsh). Candidates share
    * ≥ 1 band bucket with the query; exact cosine re-rank. Recall vs
    * q50 asserted ≥ 0.8 in SimilaritySpec. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    graft.operators.SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10,
        graft.operators.SimilaritySearch.BandLsh(Bands, Rows, Dim))
      .withColumnRenamed("rank", "knn_rank")
  }

  /** IVF-style ANN: bounded deterministic coarse quantizer (Ivf.scala),
    * each vector assigned to its nearest centroid cell, queries probe their
    * NProbe nearest cells and re-rank exactly within them.
    *
    * 100 TB posture: the centroid table is ≤ CentCap rows REGARDLESS of
    * corpus size → assignment and probe passes are broadcast joins over one
    * scan of the vectors, O(N·C) with C fixed; the candidate join shuffles
    * on cell id, so per-task work is bounded by cell size, not corpus
    * size. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    graft.operators.SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10,
        graft.operators.SimilaritySearch.IvfProbe(CentRate, CentCap,
          ivfNProbe(s)))
      .withColumnRenamed("rank", "ivf_rank")
  }

  /** Int8 scalar quantization (the "SQ8" memory lever of every large ANN
    * index: 4× smaller vectors than float32, distance-computable): per
    * vector, scale = max|x|/127, code_i = clamp(⌊x_i/scale + 0.5⌋), with
    * the reconstruction-error CONTRACT |x − code·scale| ≤ scale/2 checked
    * as an output column — a drifting quantizer fails the hash, like the
    * sketch contracts q72/q75. Pure projection over the vector column (no
    * shuffle); codes stay integer-valued so the sums compare exactly
    * cross-engine. The lambda reads a MATERIALIZED codes array
    * (zip_with), not a re-derivation per element. */
  private def q91(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("scale",
        expr("array_max(transform(v, x -> abs(x))) / 127.0"))
      .withColumn("codes", expr(
        """CASE WHEN scale = 0.0 THEN transform(v, x -> 0.0)
          |ELSE transform(v, x ->
          |  greatest(-127.0, least(127.0, floor(x / scale + 0.5))))
          |END""".stripMargin))
      .select(col("vec_id"),
        expr("CAST(size(v) AS BIGINT)").as("n_dims"),
        expr("CAST(aggregate(codes, 0D, (a, x) -> a + x) AS BIGINT)")
          .as("code_sum"),
        expr("CAST(aggregate(codes, 0D, (a, x) -> a + abs(x)) AS BIGINT)")
          .as("code_l1"),
        expr("CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT)")
          .as("scale_e9"),
        expr("""CASE WHEN scale = 0.0 THEN true
          |ELSE array_max(zip_with(v, codes, (x, q) -> abs(x - q * scale)))
          |  <= scale * 0.5 + 1e-12 END""".stripMargin).as("within_bound"))
      .orderBy("vec_id")

  /** Deterministic fixed-point k-means over the embedding corpus
    * ([[graft.operators.KMeans]]): k=8 seeds by md5 hash order, 2 Lloyd
    * rounds in exact int64 arithmetic, every centroid component and
    * assignment bit-identical across engines and partitionings. Output is
    * the per-cluster summary (members, Σ|centroid|, inertia) — all BIGINT.
    * The oracle unrolls the same rounds as chained CTEs over the exploded
    * (vid, pos, xq) form; the Spark side never explodes — assignment is a
    * bounded broadcast of ≤k centroid rows with a codegen'd
    * zip_with/aggregate distance, and the centroid update is one exchange
    * of 64 column-wise sums. */
  /** Per-label embedding ALIGNMENT (mean intra-label cosine) WITHOUT
    * enumerating pairs — the contrastive-representation health metric
    * (Wang & Isola's "alignment") computed by the sum-vector identity:
    * over unit vectors, Σ_{a<b} cos(a,b) = (‖Σv̂‖² − Σ‖v̂‖²)/2, so the
    * all-pairs mean needs only per-dimension SUMS — O(n·d), one
    * aggregation, where the naive form is an O(n²) self-join. This is
    * THE trick that makes the metric computable over a billion
    * embeddings. Exactness: each vector normalizes once (in-order
    * array fold + one correctly-rounded sqrt — deterministic), lands
    * on the integer e6 grid, and everything after is exact integer
    * sums/squares through decimal/HUGEINT; align_e6 ≈ mean cosine ·10⁶
    * (±2e-6 quantization, identical both engines; truncation toward
    * zero on the one division). Alignment near 0 on these uncorrelated
    * synthetic labels is the correct null reading. */
  private def q286(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    // adaptive fan-out (r20, guide §2.5) so the normalize lambda chain
    // and the downstream explodes run at full parallelism off the
    // one-row-group fixture file, then localCheckpoint (guide §1.2):
    // both moment aggregates (the per-dimension sum pass and the
    // per-vector quadratic pass) read this normalized table — lazily
    // planned, the embeddings scan + normalize + e6 quantization ran
    // twice. One array per vector, input-table-bounded, checkpoint-safe.
    val e = graft.operators.ReadParallelism
      .fanOut(graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(embedding, x -> cast(x AS double))").as("v")),
        col("vec_id"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(transform(v, x -> x * x), 0D, (a, x) -> a + x)")))
      .filter(col("nrm") > 0)
      .withColumn("vh", expr(
        "transform(v, x -> CAST(floor(x * 1000000.0 / nrm + 0.5) AS BIGINT))"))
      .select(col("label"), col("vh"))
      .transform(checkpoint)
    val s2 = e.select(col("label"), posexplode(col("vh")))
      .groupBy("label", "pos").agg(sum("col").as("sd"))
      .groupBy("label")
      .agg(sum(col("sd").cast("decimal(38,0)") * col("sd")).as("s2"))
    val qn = e.select(col("label"),
        expr("aggregate(transform(vh, x -> x * x), 0L, (a, x) -> a + x)")
          .as("qq"))
      .groupBy("label")
      .agg(sum(col("qq").cast("decimal(38,0)")).as("q"),
        count(lit(1)).as("n"))
    qn.join(s2, "label")
      .filter(col("n") >= 2L)
      .select(col("label"), col("n").as("n_vecs"),
        // overflow guard (round-10 advice): the s2/q decimal(38,0) sums
        // overflow to silent NULL (ANSI off) past ~10⁷ vectors/label —
        // surface that as an explicit failure, not a vanished metric
        graft.functions.Rounding.requireNotNull(
          intDivExact(col("s2") - col("q"),
            col("n") * (col("n") - lit(1L)) * lit(1000000L)),
          "q286 align_e6 overflowed decimal(38,0) -- rescale the e6 " +
            "unit grid (documented bound ~10^7 vectors per label)")
          .as("align_e6"))
      .orderBy("label")
  }

  /** Effective dimensionality of the embedding space — the
    * participation ratio PR = (tr M)² / tr(M²) of the uncentered
    * second-moment matrix, the "how many of the 64 dimensions are
    * actually in use" diagnostic (anisotropy/collapse detector:
    * PR ≈ d is healthy, PR ≪ d means the encoder collapsed). Computed
    * WITHOUT eigendecomposition: both traces are polynomial in the
    * Gram-matrix entries M_ij = Σ v̂_i·v̂_j, which build as one
    * (i, j)-keyed aggregation over the d² per-vector products —
    * map-side combine makes the shuffle d² cells regardless of corpus
    * size (the distributed Gram pattern). Exactness: the q286 e6 unit
    * grid, then pure integer sums/squares through decimal/HUGEINT and
    * one exact rational at the end (pr_e4 = PR·10⁴; operands approach
    * decimal38 at ~10⁶ vectors — rescale the grid past that). PR ≈ 64
    * on these isotropic synthetic embeddings is the null reading. */
  private def q288(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    // adaptive fan-out (r20, guide §2.5) so the Gram explode below runs
    // at full parallelism off the one-row-group fixture file, then
    // localCheckpoint (guide §1.2 — the q286 twin): the Gram build and
    // the vector count both read this normalized table; lazily planned,
    // the scan + normalize lambda chain ran twice.
    val e = graft.operators.ReadParallelism
      .fanOut(graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("v")),
        col("vec_id"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(transform(v, x -> x * x), 0D, (a, x) -> a + x)")))
      .filter(col("nrm") > 0)
      .withColumn("vh", expr(
        "transform(v, x -> CAST(floor(x * 1000000.0 / nrm + 0.5) AS BIGINT))"))
      .select(col("vh"))
      .transform(checkpoint)
    // Upper-triangle Gram build (r20, guide §2.3 — generate fewer rows):
    // M is symmetric, so only i ≤ j cells are materialized (the inner
    // explode slices the array from the outer position) — d(d+1)/2
    // instead of d² generated rows per vector, and the traces weight
    // off-diagonal squares ×2. Exact integers throughout; tr M reads the
    // diagonal cells as before. Halves the dominant explode CPU and the
    // shuffled cell count at every corpus size.
    val cells = e
      .select(posexplode(col("vh")).as(Seq("i", "xi")), col("vh"))
      .select(col("i"), col("xi"),
        posexplode(expr("slice(vh, i + 1, size(vh))"))
          .as(Seq("dj", "xj")))
      .select(col("i"), (col("i") + col("dj")).as("j"), col("xi"),
        col("xj"))
      .groupBy("i", "j")
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("m"))
    val n = e.groupBy().agg(count(lit(1)).as("n_vecs"))
    cells
      .groupBy()
      .agg(sum(when(col("i") === col("j"), col("m")).otherwise(lit(0)
        .cast("decimal(38,0)"))).as("tr_m"),
        sum(when(col("i") === col("j"), col("m") * col("m"))
          .otherwise(col("m") * col("m") * lit(2))).as("tr_m2"))
      .crossJoin(broadcast(n))
      .select(col("n_vecs"),
        // overflow guard (round-10 advice): (tr M)² approaches decimal38
        // near ~10⁶ vectors and would NULL out silently with ANSI off —
        // fail loudly at the documented bound instead
        graft.functions.Rounding.requireNotNull(
          intDivExact(
            col("tr_m") * col("tr_m") * lit(20000L) + col("tr_m2"),
            lit(2L) * col("tr_m2")),
          "q288 pr_e4 overflowed decimal(38,0) -- rescale the e6 unit " +
            "grid (documented bound ~10^6 vectors)").as("pr_e4"))
  }

  /** Cluster purity of the deterministic KMeans against the label
    * column — the external-validation census ("do the clusters mean
    * anything"): per cluster, its member count, majority label
    * (min-struct argmax, ties to the smaller label) and purity as the
    * exact e4 rational. Rides q118's bit-reproducible fixed-point
    * Lloyd's, so the oracle can replay the identical assignment and the
    * purity is a hash-checked fact, not a float estimate. Purity ≈ 1/k
    * (what these uncorrelated synthetic embeddings show) is the honest
    * null reading — the same census on clustered real embeddings is
    * the go/no-go for using cluster ids as weak labels. */
  private def q280(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val emb = graft.Tables.load(s, dir, "embeddings")
    val (_, asg) = fullKmFit(s, dir)
    val cells = asg
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")),
        asg("vid") === col("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("cid").agg(sum("n").as("n_members"))
    val maj = cells.groupBy("cid")
      .agg(min(struct((-col("n")).as("nn"), col("label").as("l")))
        .as("m"))
    tot.join(maj, "cid")
      .select(col("cid"), col("n_members"),
        col("m.l").as("majority_label"), (-col("m.nn")).as("n_majority"),
        intDivExact(
          (-col("m.nn")).cast("decimal(38,0)") * lit(20000L) +
            col("n_members"),
          lit(2L) * col("n_members")).as("purity_e4"))
      .orderBy("cid")
  }

  private def q118(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(s, dir, "embeddings")
    val (cents, asg) = fullKmFit(s, dir)
    val members = asg.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(col("dist").cast("decimal(38,0)")).cast("long").as("inertia_q"))
    val centStats = cents.select(col("cid"),
      expr("aggregate(transform(cq, x -> abs(x)), 0L, (a, x) -> a + x)")
        .as("sum_abs_centroid_q"))
    members.join(centStats, "cid")
      .select(col("cid"), col("n_members"), col("sum_abs_centroid_q"),
        col("inertia_q"))
      .orderBy("cid")
  }

  /** Product quantization (PQ): the codebook compression behind
    * billion-scale ANN indexes (IVF-PQ). The 64-dim embedding splits
    * into 4 contiguous 16-dim subspaces; each subspace trains its OWN
    * deterministic fixed-point k-means codebook (k=8, 2 Lloyd rounds —
    * [[graft.operators.KMeans]], so every code and error is
    * bit-reproducible), and a vector's PQ code is its 4 nearest-centroid
    * ids — 64 floats compressed to 4 small ints. Emitted per vector with
    * the exact integer quantization error (sum of the 4 subspace sq
    * distances, quantized units), the contract a recall model budgets
    * against. Scale: each subspace fit is the q118 shape (broadcast
    * centroids, one exchange per round over k·16 longs); the final code
    * table assembles via 3 equi-joins on vid — at 100 TB each join
    * co-partitions on the SAME key, so AQE plans one shuffle stage per
    * side, and nothing driver-side ever sees a vector. */
  /** The q149/q161 codebooks: m per-subspace deterministic k-means fits
    * (k=8, 2 rounds), trained on concurrent driver threads so the
    * (tiny, overhead-dominated) job chains overlap; each fit is
    * deterministic, so the composed result is too.
    *
    * Memoized per (session, dir) (r21, the fullFitMemo rationale): each
    * fit's seed/checkpoint chain is EAGER, so every CONSTRUCTION of
    * q149/q161 re-ran ~16 tiny jobs plus the per-query broadcast stages —
    * a noop-write job probe measured q161 at 71 single-task jobs / q149
    * at 62 on a WARM pass, nearly all scheduler floor. Centroids are
    * checkpointed by fit(); the lazy assignments are pinned here; an
    * evicted build's 2m frames are freed by ContextCleaner once
    * unreachable. Geometry (m, sub) is fixed by both consumers, so the
    * (session, dir) key is complete. */
  private val PqM = 4
  private val pqFitsMemo =
    new graft.operators.SessionDirMemo[List[(DataFrame, DataFrame)]]

  private def pqFits(s: SparkSession, dir: String)
      : List[(DataFrame, DataFrame)] = pqFitsMemo.get(s, dir) {
    val sub = Dim / PqM
    val emb = graft.Tables.load(s, dir, "embeddings")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((0 until PqM).toList.map { j =>
      Future {
        val sv = emb.select(col("vec_id"),
          slice(col("embedding"), j * sub + 1, sub).as("sv"))
        val (cents, asg) = graft.operators.KMeans.fit(
          sv, "vec_id", "sv", dim = sub, k = 8, iters = 2)
        (cents, checkpoint(asg))
      }
    }), Duration.Inf)
  }

  private def q149(s: SparkSession, dir: String): DataFrame = {
    val parts = pqFits(s, dir).zipWithIndex.map {
      case ((_, asg), j) =>
        asg.select(col("vid"), col("cid").as(s"code_$j"),
          col("dist").as(s"__d$j"))
    }
    parts.reduce(_.join(_, "vid"))
      .select(col("vid").as("vec_id"),
        col("code_0"), col("code_1"), col("code_2"), col("code_3"),
        (col("__d0") + col("__d1") + col("__d2") + col("__d3"))
          .as("qerr_q"))
      .orderBy("vec_id")
  }

  /** SemDeDup (Abbas et al. 2023) + prototypicality ranking — the
    * cluster-scoped semantic curation pass: cluster the corpus with the
    * deterministic fixed-point k-means, then (a) inside each cluster drop
    * every vector that has an EARLIER-id near-twin at rounded cosine
    * ≥ 0.45 (semantic dedup: candidate pairs are confined to a cluster,
    * never the corpus — the shape that makes embedding dedup feasible at
    * 100 TB, where k grows with N so per-cluster membership stays
    * bounded), and (b) rank every vector by its exact integer distance
    * to its centroid (D4-style prototypicality: rank 1 = most central;
    * tail ranks = outliers a pruning pass would cut first). Ties break
    * on vid; every output column is integral. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.roundf
    val e = emb(s, dir)
    val (_, asg) = fullKmFit(s, dir)
    val m = asg.select(col("vid"), col("cid"), col("dist"))
      .join(e.select(col("vec_id").as("vid"), col("v")), "vid")
    val drops = m.as("x").join(m.as("y"),
        col("x.cid") === col("y.cid") && col("x.vid") < col("y.vid"))
      .select(col("y.vid").as("vid"),
        roundf(graft.expressions.CosineSimilarity.sim(
          col("x.v"), col("y.v")), 4).as("cos"))
      .filter(col("cos") >= 0.45)
      .select("vid").distinct()
      .withColumn("is_dropped", lit(1L))
    m.withColumn("proto_rank",
        row_number().over(
          Window.partitionBy("cid").orderBy("dist", "vid")).cast("long"))
      .join(drops, Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cid"), col("proto_rank"),
        coalesce(col("is_dropped"), lit(0L)).as("is_dropped"))
      .orderBy("vec_id")
  }

  /** The PQ asymmetric-distance SCAN itself, oracle-checked end to end
    * (the SimilaritySearch.PqAdc strategy is recall-spec-pinned; this is
    * its exact arithmetic): each query's per-subspace distance tables to
    * the q149 codebooks, every corpus vector scored as four integer
    * table lookups, top-10 per query by (adc, vid), self excluded.
    * Everything — codebooks, codes, tables, scores, ranking — is exact
    * int64, so DuckDB reproduces the full scan bit-for-bit. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = PqM
    val sub = Dim / m
    val fits = pqFits(s, dir)
    val codes = fits.zipWithIndex.map { case ((_, asg), j) =>
      asg.select(col("vid"), col("cid").as(s"__c$j"))
    }.reduce(_.join(_, "vid"))
    val emb = graft.Tables.load(s, dir, "embeddings")
    // ONE fused distance-table build (r21): the former per-subspace form
    // paid 4 broadcast-cents crossJoins + 4 aggregates + 3 q_id joins —
    // each a scheduler-floor job on a 5-query × 8-centroid table. The
    // union-tagged centroids join once on the subspace id and one
    // aggregate emits all 4 per-query maps (collect_list drops the
    // null rows of the other subspaces); quantize/sqDist arithmetic is
    // unchanged, so every ADC value is bit-identical.
    val centsAll = fits.zipWithIndex.map { case ((cents, _), j) =>
      cents.select(lit(j).as("j"), col("cid"), col("cq"))
    }.reduce(_.unionAll(_))
    val qSub = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        posexplode(array((0 until m).map(j =>
          graft.operators.KMeans.quantize(
            slice(col("embedding"), j * sub + 1, sub), 1000000.0)): _*))
          .as(Seq("j", "__qq")))
    val dtCols = (0 until m).map(j =>
      map_from_entries(collect_list(
        when(col("j") === j, struct(col("cid"), col("d")))))
        .as(s"__dt$j"))
    val qTables = qSub.join(broadcast(centsAll), "j")
      .select(col("q_id"), col("j"), col("cid"),
        graft.operators.KMeans.sqDist(col("__qq"), col("cq")).as("d"))
      .groupBy("q_id")
      .agg(dtCols.head, dtCols.tail: _*)
    val adc = (0 until m).map(j =>
      element_at(col(s"__dt$j"), col(s"__c$j"))).reduce(_ + _)
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
    codes.crossJoin(broadcast(qTables))
      .select(col("q_id"), col("vid").as("vec_id"), adc.as("adc"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_rank", row_number().over(w).cast("long"))
      .filter(col("adc_rank") <= 10)
      .orderBy("q_id", "adc_rank")
  }

  /** Hybrid retrieval via reciprocal-rank fusion — the standard two-arm
    * RAG retrieval stack as ONE query: the lexical arm ranks documents by
    * the q129 BM25 score (shared scoring core, [[TextQueries.bm25e6]]);
    * the vector arm ranks by 4-decimal-rounded cosine against a fixed
    * query embedding (vec_id 0, the q50 machinery); each arm keeps its
    * top-100; fusion is RRF with the standard k=60, made engine-exact as
    * integer division (1e6 div (60 + rank) per present arm — no float
    * reciprocals to ulp-diverge). Absent-arm ranks surface as 0 so the
    * output is audit-friendly. Scale shape: each arm ends in an
    * orderBy+limit — a bounded TakeOrdered heap, NOT a global-sort
    * window (the rank window then runs over ≤ 100 rows by construction);
    * the fusion join is a keyed full-outer on doc_id over two ≤ 100-row
    * tables. At 100 TB only the arms' scans grow; the fusion stays
    * constant-size. */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.roundf
    val K = 100
    def top(df: DataFrame, score: Column, rankName: String): DataFrame =
      df.orderBy(score.desc, col("doc_id")).limit(K)
        .withColumn(rankName,
          row_number().over(Window.orderBy(score.desc, col("doc_id")))
            .cast("long"))
        .select(col("doc_id"), col(rankName))
    val lex = top(
      TextQueries.bm25e6(s, dir).filter(col("bm25_e6") > 0),
      col("bm25_e6"), "rank_lex")
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val vec = top(
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          roundf(graft.expressions.CosineSimilarity.sim(
            col("v"), col("qv")), 4).as("cos")),
      col("cos"), "rank_vec")
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
        (coalesce(expr("1000000L div (60L + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000L div (60L + rank_vec)"), lit(0L)))
          .as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
      .limit(50)
  }

  /** Matryoshka prefix-dimension retrieval audit — the "can we truncate
    * the embeddings?" measurement behind MRL-style dimension cuts: take
    * the query's (vec_id 0) exact top-20 by FULL 64-dim cosine, and for
    * each hit report where it would rank if retrieval used only the
    * FIRST 16 dimensions — displacement ≈ 0 means the prefix preserves
    * this query's neighborhood and the index can store 4× fewer floats.
    * Exact and scale-shaped: both cosines land on the e4 grid
    * (deterministic ties on vec_id), the full-dim top-20 is a bounded
    * TakeOrdered heap (the q194 arm shape), and the prefix rank is NOT a
    * corpus-wide window — it's `1 + |{better under (cos_p16, id)}|`,
    * counted by streaming the corpus past the BROADCAST 20-row candidate
    * table (a bounded nested-loop product, the q50 crossJoin family) into
    * one 20-group aggregate. */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.roundf
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val scored = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        roundf(graft.expressions.CosineSimilarity.sim(
          col("v"), col("qv")), 4).as("cos_full"),
        roundf(graft.expressions.CosineSimilarity.sim(
          slice(col("v"), 1, 16), slice(col("qv"), 1, 16)), 4)
          .as("cos_p16"))
    val top = scored.orderBy(col("cos_full").desc, col("vec_id")).limit(20)
      .withColumn("rank_full",
        row_number().over(
          Window.orderBy(col("cos_full").desc, col("vec_id")))
          .cast("long"))
    val cand = top.select(col("vec_id").as("cand_id"),
      col("cos_p16").as("cand_cp"))
    val pref = scored.crossJoin(broadcast(cand))
      .groupBy("cand_id")
      .agg((sum((col("cos_p16") > col("cand_cp") ||
        (col("cos_p16") === col("cand_cp") &&
          col("vec_id") < col("cand_id"))).cast("long")) + 1L)
        .as("rank_p16"))
    top.join(pref, col("vec_id") === col("cand_id"))
      .select(col("vec_id").as("doc_id"), col("cos_full"), col("cos_p16"),
        col("rank_full"), col("rank_p16"),
        (col("rank_p16") - col("rank_full")).as("displacement"))
      .orderBy("rank_full")
  }

  /** Cross-modal paired-embedding retrieval audit — the CLIP-class
    * health check a multimodal corpus runs before trusting text↔image
    * retrieval (r18 verdict item 7's named candidate surface, on the
    * q220 pattern): every document carries a TEXT embedding (the
    * embeddings table) and an IMAGE-side embedding whose error model is
    * read from the document's ACTUAL BITMAP (r19 verdict item 3 — the
    * first cut mixed text embeddings only, auditing the eval machinery
    * over a synthetic second modality). Real dual encoders produce
    * "aligned plus structured error": here
    * `w(d) = 3·v(d) + b(d)·v(next(d)) + u(d)/4`, where BOTH error
    * terms come from the REAL decoded pixels
    * ([[graft.multimodal.MultimodalOps.blockFeatures]] over the q89/
    * q162 bitmap substrate, keyed by the doc's id): u(d) is the UNIT
    * centered block-intensity direction (the image's own deviation
    * profile — one wrong pixel byte anywhere moves a cosine and the
    * hash fails loudly) and the drift strength b(d) = 1 + Σbyte mod 7
    * is the image's intensity mass. The neighbor term keeps the drift
    * target a KNOWN text vector, which is what makes the audit's
    * separation provable rather than chance-correlated: own − neighbor
    * cosine numerators couple as (3 − b)(1 − v·vn) + (u·(v − vn))/4 —
    * measured ceilings mc = 0.49, mu = 0.44 at sf0.01 leave margin
    * ≥ 0.29 — so in the image→text direction b ≤ 2 forces rank 1 and
    * b ≥ 4 forces drift. The text→image direction is asymmetric by
    * nature (its corpus holds every OTHER doc's perturbed image, and
    * the predecessor pulls toward v(d) with ITS pixel-read strength),
    * so there a weak pair holds rank ≤ 2 and a strong predecessor
    * provably claims rank 1 — the real CLIP-audit confusion pattern.
    * SimilaritySpec pins all four faces; a pure pixel embedding with
    * NO alignment term would rank the pair uniformly at random — true
    * but unpinnable, auditing nothing. `next` is vec_id + 1 with the
    * first vector closing the ring, a keyed self-join — never a
    * corpus-wide window. For each
    * of the 20 anchor queries the audit reports both directions of the
    * standard cross-modal eval: the rank of the PAIRED item among the
    * whole opposite-modality corpus — rank 1 everywhere means the
    * spaces are aligned; a displaced rank names the document whose
    * pairing drifted. Exact and scale-shaped: cosines land on the e4
    * grid (ties on id), each rank is the q220 counting form —
    * `1 + |{better}|` computed by streaming the corpus past the
    * BROADCAST 20-row anchor table into one 20-group aggregate, never
    * a corpus-wide window — and the pixel features ride a keyed
    * equi-join (payloads never shuffle past the per-partition decode;
    * the feature is 64 int64s + one scalar per doc). The mixed vector
    * is CONSTRUCTED as a list in both engines (zip_with here,
    * list_transform in the oracle) and only then fed to the shared
    * cosine — no algebraic expansion; the block sums and their squared
    * norm are exact int64 on both sides (everything < 2⁵³), so every
    * double is bit-identical. */
  private def q384(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.roundf
    import graft.expressions.CosineSimilarity
    import graft.multimodal.MultimodalOps
    val e = emb(s, dir)
    val nxt = e.select((col("vec_id") - 1).as("vec_id"),
      col("v").as("vn"))
    val first = e.orderBy("vec_id").limit(1).select(col("v").as("vf"))
    // the image side reads the REAL bitmaps: unit deviation direction
    // u and strength b = 1 + (intensity mass mod 7), both from decoded
    // pixel bytes
    val pix = MultimodalOps.blockFeatures(
        MultimodalOps.bmpTable(s, e.select(col("vec_id").as("doc_id"))),
        Dim)
      .toDF()
      .withColumn("nrm",
        sqrt(aggregate(col("f"), lit(0L), (acc, x) => acc + x * x)
          .cast("double")))
      .select(col("doc_id").as("vec_id"),
        transform(col("f"), x => x.cast("double") / col("nrm")).as("u"),
        (col("byte_sum") % 7 + lit(1L)).cast("double").as("b"))
    val img = e.join(nxt, Seq("vec_id"), "left")
      .crossJoin(broadcast(first))
      .join(pix, Seq("vec_id"))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("v"), coalesce(col("vn"), col("vf")),
            (x, y) => lit(3.0) * x + col("b") * y),
          col("u"),
          (t, z) => t + lit(0.25) * z).as("w"))
    val qt = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val qi = img.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("w").as("qw"))
    // text → image: stream ALL image vectors past the broadcast anchor
    // texts, count strictly-better candidates per anchor (q220 form)
    val t2i = img.crossJoin(broadcast(qt))
      .select(col("q_id"), col("vec_id").as("c_id"),
        roundf(CosineSimilarity.sim(col("qv"), col("w")), 4).as("cos"))
    val ownT = t2i.filter(col("q_id") === col("c_id"))
      .select(col("q_id"), col("cos").as("own_cos"))
    val rankT = t2i.join(broadcast(ownT), "q_id")
      .groupBy("q_id")
      .agg((sum((col("cos") > col("own_cos") ||
          (col("cos") === col("own_cos") && col("c_id") < col("q_id")))
          .cast("long")) + 1L).as("rank_t2i"))
    // image → text: the reverse direction, anchor images vs all texts
    val i2t = e.crossJoin(broadcast(qi))
      .select(col("q_id"), col("vec_id").as("c_id"),
        roundf(CosineSimilarity.sim(col("v"), col("qw")), 4).as("cos"))
    val rankI = i2t.join(broadcast(
        i2t.filter(col("q_id") === col("c_id"))
          .select(col("q_id"), col("cos").as("own_cos"))), "q_id")
      .groupBy("q_id")
      .agg((sum((col("cos") > col("own_cos") ||
          (col("cos") === col("own_cos") && col("c_id") < col("q_id")))
          .cast("long")) + 1L).as("rank_i2t"))
    ownT.join(rankT, "q_id").join(rankI, "q_id")
      .select(col("q_id").as("vec_id"), col("own_cos").as("cos_pair"),
        col("rank_t2i"), col("rank_i2t"))
      .orderBy("vec_id")
  }

  /** Mutual nearest neighbors over LSH candidates — the bitext/parallel-
    * corpus mining shape (two vectors are a mined pair iff each is the
    * OTHER's best match; one-directional best-match lists are full of
    * hubs, mutuality is the classic filter). Deliberately NOT the
    * [[graft.operators.SimilaritySearch.topK]] path: that broadcasts the
    * query side, which is right for few-queries retrieval and wrong when
    * every corpus vector is a query — here candidates come from the
    * SYMMETRIC band-bucket self-join (the q42 discipline: one keyed
    * join, fan-out bounded by bucket populations), each candidate pair
    * is scored once (a < b), the per-vector argmax is a
    * `min(struct(−cos, id))` over the two-direction union (one keyed
    * exchange, no window), and mutuality is a keyed self-join of the
    * best-match table. "Best" means best among LSH candidates — exactly
    * what a production miner computes; isolated vectors sharing no
    * bucket are absent by construction on both engines. */
  private def q223(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.roundf
    val scored = lshScoredPairs(s, dir)
      .select(col("a"), col("b"), roundf(col("sim_d"), 4).as("cos"))
    val directed = scored
      .select(col("a").as("q"), col("b").as("n"), col("cos"))
      .unionAll(scored.select(col("b").as("q"), col("a").as("n"), col("cos")))
    val best = directed.groupBy("q")
      .agg(min(struct((-col("cos")).as("nc"), col("n").as("nn"))).as("m"))
      .select(col("q"), col("m.nn").as("n"), (-col("m.nc")).as("cos"))
    best.as("x").join(best.as("y"),
        col("x.q") === col("y.n") && col("x.n") === col("y.q") &&
          col("x.q") < col("x.n"))
      .select(col("x.q").as("vec_a"), col("x.n").as("vec_b"),
        col("x.cos").as("cos"))
      .orderBy("vec_a")
  }

  /** Embedding pre-flight audit — the degenerate-vector census run
    * before building ANY of the ANN indexes in this file: all-zero
    * vectors (cosine undefined — they silently score 0 or NaN into every
    * ranking), non-finite components (one NaN poisons a whole distance
    * computation), and exact byte-duplicate vectors (inflate every
    * neighborhood and make recall metrics lie). One pass: per-vector
    * flags are codegen'd array lambdas (forall/exists — no explode), the
    * duplicate flag is a count over a window partitioned by the vector,
    * and the census rolls up per label. Flags, not drops: the downstream
    * decision (zero-fill? drop? dedup?) belongs to the caller.
    *
    * 100 TB shuffle-key shape (round-9 advice): the exchange is an
    * explicit repartition on `xxhash64(embedding)` — an 8-byte
    * near-uniform key — NOT the raw float payload. The window then
    * partitions by (hash, embedding) for exact array equality, and since
    * HashPartitioning(eh) satisfies ClusteredDistribution(eh, embedding)
    * (partition exprs ⊆ cluster exprs) Catalyst adds no second exchange:
    * one shuffle, hash-only key, byte-exact dup semantics. */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("eh", "embedding")
    Tables.load(s, dir, "embeddings")
      .withColumn("eh", xxhash64(col("embedding")))
      .repartition(col("eh"))
      .withColumn("dup_c", count(lit(1)).over(w))
      .select(col("label").cast("long").as("label"),
        forall(col("embedding"), x => x === lit(0.0f)).cast("long")
          .as("zero_norm"),
        exists(col("embedding"), x =>
          isnan(x) || abs(x.cast("double")) === lit(Double.PositiveInfinity))
          .cast("long").as("nonfinite"),
        (col("dup_c") > 1).cast("long").as("dup"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum("zero_norm").as("n_zero_norm"),
        sum("nonfinite").as("n_nonfinite"),
        sum("dup").as("n_dup_vecs"))
      .orderBy("label")
  }

  /** Hard-negative mining over LSH candidates — the contrastive-training
    * data shape (triplet/InfoNCE losses need, per anchor, the most
    * similar vectors that are NOT the anchor's class; random negatives
    * are too easy and teach nothing). For each probe anchor (vec_id <
    * 10), candidates come from the q51 band-bucket join — one keyed
    * equi-join, never a scan per anchor — are label-filtered to
    * cross-class only, exact-cosine re-ranked, and the top 5 hardest
    * kept. 100 TB posture: the anchor side of the bucket join is a
    * bounded probe set, fan-out per bucket is the band population (the
    * q42/q51 discipline), and the rank window partitions per-anchor over
    * only that anchor's LSH candidates — no global sort, no broadcast of
    * anything O(N). */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.roundf
    val e = emb(s, dir)
    val bands = graft.operators.Lsh
      .bandsDf(e, "vec_id", "v", Bands, Rows, Dim)
    val cand = bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q"), col("band"), col("bkey"))
      .join(bands.select(col("vec_id").as("c"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("q") =!= col("c"))
      .select("q", "c").distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("q"), col("label").as("ql"),
        col("v").as("qv")), "q")
      .join(e.select(col("vec_id").as("c"), col("label").as("cl"),
        col("v").as("cv")), "c")
      .filter(col("ql") =!= col("cl"))
      .select(col("q").as("q_id"), col("c").as("neg_id"),
        col("cl").cast("long").as("neg_label"),
        roundf(graft.expressions.CosineSimilarity.sim(
          col("qv"), col("cv")), 4).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neg_id"))
    scored.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 5)
      .orderBy("q_id", "neg_rank")
  }

  /** Embedding-quality AUC probe — one-vs-rest, per label: does cosine
    * similarity to the label's anchor vector (its min vec_id) separate
    * that label from the rest of the corpus? This is the
    * retrieval-quality monitor run before trusting an embedding column
    * for SemDeDup/clustering/search: AUC ≈ 0.5 means the embeddings
    * carry no class signal. Computed as the exact Mann-Whitney rank-sum
    * — but NEVER through a corpus-wide rank window: scores land on the
    * e4 rounding grid, so the census groups to (anchor, score) histogram
    * cells first (≤ 20001 per anchor REGARDLESS of corpus size) and the
    * ordered window walks cells, not rows. 2U = Σ_cells np·(2·cum_nn +
    * nn) stays integral — ties get their exact average rank with no
    * halves materializing. The only non-integer step is the final
    * auc_e6 division (operands < 2^53 up to ~10^6 vectors/label; past
    * that, swap the final op for intDivExact — the integer inputs
    * already support it). The anchor table is 10 rows → broadcast
    * product, the q50 crossJoin family. */
  /** (albl, anchor_id, score, np, nn) histogram cells — the shared
    * base of q229's AUC and q248's Youden threshold: each label's
    * anchor (min vec_id) scores the rest of the corpus, grouped to
    * e4-grid cells so downstream windows walk ≤ 20001 rows per anchor
    * regardless of corpus size. */
  private def anchorHist(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.roundf
    val e = emb(s, dir)
    val anchors = e.groupBy(col("label").cast("long").as("albl"))
      .agg(min("vec_id").as("anchor_id"))
    val av = anchors.join(
      e.select(col("vec_id").as("anchor_id"), col("v").as("avec")),
      "anchor_id")
    e.crossJoin(broadcast(av))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("albl"), col("anchor_id"),
        roundf(graft.expressions.CosineSimilarity.sim(
          col("v"), col("avec")), 4).as("score"),
        (col("label").cast("long") === col("albl")).cast("long").as("pos"))
      .groupBy("albl", "anchor_id", "score")
      .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
  }

  private def q229(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = anchorHist(s, dir)
    val w = Window.partitionBy("albl").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
      .groupBy("albl", "anchor_id")
      .agg(sum("np").as("npos"), sum("nn").as("nneg"),
        sum(col("np") * (lit(2L) * col("cum_nn") + col("nn"))).as("two_u"))
      .select(col("albl").as("label"), col("anchor_id"),
        col("npos"), col("nneg"), col("two_u"),
        when(col("npos") > 0L && col("nneg") > 0L,
          floor(lit(1000000.0) * col("two_u") /
            (lit(2.0) * col("npos") * col("nneg")) + lit(0.5)).cast("long"))
          .as("auc_e6"))
      .orderBy("label")
  }

  /** ANN recall@10 audit — the acceptance gate every approximate index
    * must pass before it replaces the exact path in production: per
    * query, |LSH top-10 ∩ brute top-10| / 10 as an exact e4 ratio. The
    * SimilaritySpec assertion (recall ≥ 0.8) pins this in CI; the query
    * form makes it an oracle-checked, per-query OBSERVABLE so a recall
    * regression shows up in the data, not just a test. Runs both arms
    * through [[graft.operators.SimilaritySearch.topK]] (the brute arm
    * broadcasts only the 5-query probe set; the LSH arm is the q51
    * keyed band join) and diffs them with one left join + one 5-group
    * aggregate — audit cost is the cost of the two arms themselves. */
  private def q232(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilaritySearch
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    val brute = SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10, SimilaritySearch.Brute)
      .select(col("q_id"), col("vec_id"))
    val lsh = SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10,
        SimilaritySearch.BandLsh(Bands, Rows, Dim))
      .select(col("q_id"), col("vec_id"), lit(1L).as("in_lsh"))
    brute.join(lsh, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_brute"),
        coalesce(sum("in_lsh"), lit(0L)).as("n_common"))
      .withColumn("recall_e4",
        floor(lit(10000.0) * col("n_common") / col("n_brute") + lit(0.5))
          .cast("long"))
      .orderBy("q_id")
  }

  /** Youden-J optimal threshold per anchor — the operating point q229's
    * AUC does not give you: AUC says the score CAN separate, Youden
    * says WHERE to cut (classify same-label iff score ≥ t, t chosen to
    * maximize TPR − FPR). Over the same e4 histogram cells as q229:
    * pos/neg mass at-or-above each observed cell comes from the framed
    * below-window complements, the maximized objective is the exact
    * integer cross-product form J_num = pos_above·nneg − neg_above·npos
    * (common denominator npos·nneg — no ratio floats), argmax breaks
    * ties toward the SMALLEST threshold (min-struct on (−J_num,
    * score)), and j_e6 is the exact rational division. The census walk
    * stays support-bounded per anchor. */
  private def q248(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.intDivExact
    val hist = anchorHist(s, dir)
    val w = Window.partitionBy("albl").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy("albl")
    val cells = hist
      .withColumn("cum_np", coalesce(sum("np").over(w), lit(0L)))
      .withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
      .withColumn("npos", sum("np").over(tot))
      .withColumn("nneg", sum("nn").over(tot))
      .withColumn("j_num",
        (col("npos") - col("cum_np")) * col("nneg") -
          (col("nneg") - col("cum_nn")) * col("npos"))
    cells.groupBy("albl", "anchor_id", "npos", "nneg")
      .agg(min(struct((-col("j_num")).as("nj"), col("score").as("t")))
        .as("m"))
      .select(col("albl").as("label"), col("anchor_id"),
        col("m.t").as("threshold"),
        intDivExact(
          (-col("m.nj")).cast("decimal(38,0)") * lit(2000000L) +
            col("npos") * col("nneg"),
          lit(2L) * col("npos") * col("nneg")).as("j_e6"))
      .orderBy("label")
  }

  /** MRR of the LSH arm against brute ground truth — the rank-sensitive
    * complement of q232's recall@10 (recall says the gold made the list,
    * MRR says how FAR DOWN): gold = each query's brute top-1, score =
    * the reciprocal of its rank in the LSH arm's full candidate
    * ranking, 0 when the candidate set misses it entirely. Kept exact
    * by the floor-before-mean convention: rr_e6 = ⌊10⁶/rank⌋ per query
    * ([[graft.functions.Rounding.intDiv]]), mrr_e6 = ⌊Σrr/n⌋ — both
    * engines run the same two integer divisions, no double ever
    * averages. The LSH ranking is re-ranked over ALL LSH candidates
    * (k = corpus bound) so a gold at rank 11 scores 90909, not 0. */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    import graft.operators.SimilaritySearch
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    val gold = SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 1, SimilaritySearch.Brute)
      .select(col("q_id"), col("vec_id"))
    val lshRank = SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", Int.MaxValue,
        SimilaritySearch.BandLsh(Bands, Rows, Dim))
      .select(col("q_id"), col("vec_id"), col("rank"))
    gold.join(lshRank, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"),
        coalesce(intDiv(lit(1000000L), col("rank")), lit(0L)).as("rr_e6"))
      .groupBy()
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("rr_e6") > 0L, 1L).otherwise(0L)).as("n_found"),
        intDiv(sum("rr_e6"), count(lit(1))).as("mrr_e6"))
  }

  /** nDCG@10 of the LSH arm against graded brute relevance — the
    * rank-quality metric that weights the top of the list (completes
    * the eval kit: recall@10 = q232 set overlap, MRR = q250 first-gold
    * position, nDCG = whole-list graded order). The log2 discounts —
    * the one transcendental in the formula — are a FIXED 10-entry
    * integer table (⌊10⁶/log2(i+1)⌉, embedded identically in both
    * engines as literals), so the computation is: grade = 11 − brute
    * rank for the brute top-10, DCG = Σ grade·D(lsh_rank) over hits at
    * LSH rank ≤ 10, nDCG_e4 = the exact rational against the constant
    * ideal 29 966 114. No runtime log, no float — the q64 de-log
    * discipline applied to ranking evaluation. */
  private def q281(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    import graft.operators.SimilaritySearch
    val disc = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val idcg = 29966114L
    val e = emb(s, dir)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    val brute = SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10, SimilaritySearch.Brute)
      .select(col("q_id"), col("vec_id"),
        (lit(11L) - col("rank")).as("grade"))
    val lsh = SimilaritySearch
      .topK(e, qv, "vec_id", "v", "q_id", 10,
        SimilaritySearch.BandLsh(Bands, Rows, Dim))
      .select(col("q_id"), col("vec_id"), col("rank").as("lsh_rank"))
    val sess = s
    import sess.implicits._
    val dtab = disc.zipWithIndex
      .map { case (d, i) => (i + 1L, d) }
      .toDF("lsh_rank", "d")
    brute.join(lsh, Seq("q_id", "vec_id"))
      .join(broadcast(dtab), "lsh_rank")
      .groupBy("q_id")
      .agg(sum(col("grade") * col("d")).as("dcg"))
      .select(col("q_id"), col("dcg"),
        intDivExact(
          col("dcg").cast("decimal(38,0)") * lit(20000L) + lit(idcg),
          lit(2L * idcg)).as("ndcg_e4"))
      .orderBy("q_id")
  }

  /** Cosine calibration (reliability) curve — "is cosine similarity
    * calibrated as a same-label predictor": LSH candidate pairs (q223's
    * bucket join — never all-pairs) scored with the exact e6 cosine,
    * binned into ten [-1, 1) deciles, and per bin the pair count, the
    * same-label count, and the exact e4 empirical same-label rate. A
    * monotone curve says cosine thresholds transfer to precision
    * targets; a flat one (this synthetic corpus' null reading) says
    * they don't. Complements q229's AUC (ranking quality) with the
    * PROBABILITY-calibration view a threshold-picking operator actually
    * needs. Binning is integer floor division on the e6 grid — no float
    * boundary can disagree between engines. */
  private def q305(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{intDiv, intDivExact}
    lshScoredPairs(s, dir)
      .select(
        floor(col("sim_d") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("cos_e6"),
        (col("la") === col("lb")).cast("long").as("same"))
      .withColumn("bin",
        least(lit(9L), intDiv(col("cos_e6") + lit(1000000L), lit(200000L))))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"), sum("same").as("n_same"))
      .withColumn("same_rate_e4", intDivExact(
        col("n_same").cast("decimal(38,0)") * lit(20000L) + col("n_pairs"),
        lit(2L) * col("n_pairs")))
      .orderBy("bin")
  }

  /** Label-noise candidates via k-NN neighborhood vote — the
    * confident-learning-style audit a labeled corpus runs before
    * training: for every vector, its 5 nearest neighbors (exact cosine,
    * deterministic e6-grid/id tie-break) vote on the label; a vector
    * whose own label loses the vote (n_same ≤ 2 of 5) is a suspect —
    * either mislabeled or sitting on a class boundary. Zero-norm
    * vectors are excluded up front (cosine undefined — the q202
    * pre-flight contract). The brute candidate set is the
    * oracle-checkable core; at 100 TB the identical vote runs over the
    * LSH/IVF candidate arm (q51/q56) — only the neighbor-generation
    * stage swaps. The quadratic's activation is MEASURED, not argued:
    * the r17 sf~1 sweep (SCALING.md) reads 2.9s → 297s on 10× data
    * (tail 2.01 — exactly the designed N² pair count; a discarded
    * pre-salting synthesis had read 2.25 with clone-pathology drift on
    * top), adjudicated in `tools/scaling_sweep.py` with the IVF arm
    * as the unchanged scale posture. On these uncorrelated synthetic embeddings ~90% of
    * vectors are suspects — the honest null reading (random labels
    * cannot win random neighborhoods), and exactly why the census must
    * be read against a base rate. */
  private def q306(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val e = emb(s, dir)
      .filter(expr("aggregate(transform(v, x -> x * x), 0D, (a, x) -> a + x)")
        > 0.0)
    // queries broadcast (the SimilaritySearch.Brute shape): a BNLJ, not
    // a CartesianProduct — the corpus side streams, never materializes.
    // Adaptive fan-out (r20, guide §2.5): the designed quadratic
    // rescore fuses onto the corpus scan's map stage, and the fixture's
    // one-row-group file gave it ONE partition — the 4M-pair cosine
    // loop ran on one core. Parallelism changes the wall clock, not the
    // adjudicated O(N²) complexity contrast this arm exists to measure.
    val scored = graft.operators.ReadParallelism
      .fanOut(e.select(col("vec_id").as("c"), col("v").as("cv")),
        col("c"))
      .crossJoin(broadcast(e.select(col("vec_id").as("q"),
        col("label").as("ql"), col("v").as("qv"))))
      .filter(col("q") =!= col("c"))
      .select(col("q"), col("ql"), col("c"),
        floor(graft.expressions.CosineSimilarity.sim(col("qv"), col("cv"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("cos_e6"))
    // bounded top-k aggregate, NOT a row_number window: the window form
    // shuffles every scored pair to its query's reducer (measured 5.6s
    // at sf0.1's 4M pairs → 2.6s); TopKByValue's map-side combine ships
    // ≤ 5 rows per (query, task) — at 100 TB the difference between
    // shuffling the pair table and a rounding error of it. cos_e6 ≤ 10⁶
    // is exact in double; ordering contract (value desc, id asc) is the
    // oracle's window ORDER BY.
    val topk = udaf(new graft.functions.TopKByValue(5),
      ExpressionEncoder[graft.functions.Scored]())
    val top5 = scored
      .groupBy(col("q"), col("ql"))
      .agg(topk(col("cos_e6").cast("double"), col("c")).as("top"))
      .select(col("q"), col("ql"), explode(col("top")).as("t"))
      .select(col("q"), col("ql"), col("t.id").as("c"))
    // label-resolution join: NO broadcast hint (r17 verdict item 1) —
    // the (vec_id, label) relation is O(N) rows (~16 GB at 10⁹
    // vectors), a data-scale side that must never be forced onto every
    // executor; at audit scale stats/AQE still pick a broadcast, at
    // corpus scale it demotes itself to a shuffle join on `c`
    top5
      .join(e.select(col("vec_id").as("c"),
        col("label").as("cl")), "c")
      .groupBy(col("q").as("vec_id"), col("ql").as("label"))
      .agg(sum((col("cl") === col("ql")).cast("long")).as("n_same5"))
      .withColumn("is_suspect", (col("n_same5") <= 2L).cast("long"))
      .orderBy("vec_id")
  }

  /** Label-noise candidates over the LSH candidate arm — q306's vote
    * run on the SCALE PATH its adjudication names (SCALING.md r17
    * measured the brute arm's quadratic activating at the sf~1 decade;
    * this is the form a 100 TB run actually executes): neighbors come
    * from the memoized banded-LSH candidate pairs (q223/q305's
    * substrate) instead of the all-pairs product, symmetrized so each
    * vector votes over its own candidate neighborhood — top 5 by the
    * exact e6 cosine under the same (value desc, id asc) contract,
    * majority-loss suspect rule 2·n_same ≤ n_cand (reduces to q306's
    * n_same ≤ 2 at full 5-neighborhoods). `n_cand5` rides along: an
    * approximate arm must SHOW its coverage, and a vector with no
    * candidates is absent by design (an LSH miss is a recall property —
    * q232 measures it; this query votes on what the candidate
    * generator surfaces). Scale: band-bucket equi join (never
    * all-pairs), the q306 bounded top-k aggregate, and a label-
    * resolution join with NO broadcast hint (r17 verdict item 1: the
    * (vec_id, label) relation is O(N) — stats/AQE broadcast it at
    * audit scale and demote it to a shuffle join at corpus scale;
    * this is the designated scale path, so nothing data-sized may be
    * forced onto every executor). Band geometry follows the
    * [[lshGeometry]] deployment knob (default 32×4; the q380 tuner /
    * [[graft.operators.Lsh.tunedGeometry]] rule re-sizes it as the
    * corpus grows — the sweep's tuned sf~1 row measures the occupancy
    * tail that re-tuning removes). */
  private def q378(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val pairs = lshScoredPairs(s, dir)
    val sym = pairs.select(col("a").as("q"), col("la").as("ql"),
        col("b").as("c"), col("sim_d"))
      .unionByName(pairs.select(col("b").as("q"), col("lb").as("ql"),
        col("a").as("c"), col("sim_d")))
    val scored = sym.select(col("q"), col("ql"), col("c"),
      floor(col("sim_d") * lit(1000000.0) + lit(0.5)).cast("long")
        .as("cos_e6"))
    val topk = udaf(new graft.functions.TopKByValue(5),
      ExpressionEncoder[graft.functions.Scored]())
    scored.groupBy(col("q"), col("ql"))
      .agg(topk(col("cos_e6").cast("double"), col("c")).as("top"))
      .select(col("q"), col("ql"), explode(col("top")).as("t"))
      .select(col("q"), col("ql"), col("t.id").as("c"))
      .join(emb(s, dir).select(col("vec_id").as("c"),
        col("label").as("cl")), "c")
      .groupBy(col("q").as("vec_id"), col("ql").as("label"))
      .agg(count(lit(1)).as("n_cand5"),
        sum((col("cl") === col("ql")).cast("long")).as("n_same5"))
      .withColumn("is_suspect",
        (lit(2L) * col("n_same5") <= col("n_cand5")).cast("long"))
      .orderBy("vec_id")
  }

  /** Sign-LSH band-geometry tuning table — the index-sizing decision a
    * fixed 32×4 geometry cannot make as the corpus grows (the r17 sf~1
    * sweep measured q378's fixed-geometry occupancy term at tail 1.46;
    * this table plus [[graft.operators.Lsh.tunedGeometry]] is the
    * MECHANISM that removes it — r17 verdict item 2): the SAME 128-bit
    * md5-derived signature banded three ways (32×4, 16×8, 8×16 — the
    * embedding analogue of q270's minhash sweep), each arm scored for
    * MEASURED candidate-pair volume and recall/precision against the
    * exact anchored truth set (cos_e6 ≥ 400000, this corpus's upper
    * tail, over a bounded deterministic anchor draw),
    * next to the size-derived expected uniform bucket load ⌈n/2^r⌉ and
    * the sizing rule's pick: `chosen` marks the smallest r whose
    * expected load stays ≤ 512 (falling back to the widest band) —
    * exactly `Lsh.tunedGeometry`, spec-pinned identical in
    * LshTuningSpec, and consumed by [[lshScoredPairs]] via the
    * `spark.graft.lsh.*` conf (the sweep's tuned sf~1 row rides it).
    * Shapes: ONE fused arm-tagged explode (q270's r13 arm fusion — one
    * scan, 56 struct rows per vector), one self-join on (arm, band,
    * bkey), one distinct; a zero-candidate arm still reports via the
    * static arm lattice (the q270/q299 vanishing-row trap). Truth is
    * ANCHORED (r18 verdict item 1): a bounded md5-deterministic anchor
    * draw (exact-k smallest hash, the q235 discipline) crossed against
    * the corpus — O(anchors·N) with an O(anchors) broadcast, never
    * all-pairs — so the tuner itself runs at any corpus size it sizes
    * an index for. `n_cand` stays the FULL arm candidate volume (the
    * occupancy quantity the geometry rule manages); recall/precision
    * are measured on the anchored pair universe (candidates touching
    * an anchor, truth pairs touching an anchor) — an unbiased sample
    * estimate of the full-corpus ratios, deterministic because the
    * draw is. The table it certifies is ≤ 3 rows regardless of corpus
    * size.
    *
    * Memoized per (session, dir) — the TABLE is ≤ 3 rows but the chain
    * behind it (fused 3-arm explode, banded self-join, anchored truth)
    * is whole-corpus work, and BOTH q380 and q382 consume it (r18
    * verdict item 2: q382 re-ran every tuning chain it composes).
    * `SessionDirMemo.rawChain` reaches the lazy chain for plan audits;
    * MemoNeutralitySpec pins hash-neutrality. */
  private val lshTuningMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def lshTuningTable(s: SparkSession, dir: String)
      : DataFrame =
    lshTuningMemo.get(s, dir)(
      pin(lshTuningOf(s, Tables.load(s, dir, "embeddings"))))

  private def q380(s: SparkSession, dir: String): DataFrame =
    lshTuningTable(s, dir).orderBy("rows_per_band")

  /** The q380 chain over a GIVEN embeddings frame — the form the
    * streaming sizing twin re-derives per micro-batch (the corpus it
    * sizes for is whatever has arrived). */
  private[graft] def lshTuningOf(s: SparkSession, eRaw: DataFrame)
      : DataFrame = {
    import graft.functions.Rounding.intDiv
    val bits = Bands * Rows
    val truthE6 = 400000L
    val targetLoad = 512L
    val anchorK = 64
    val planes = graft.operators.Lsh.hyperplanes(bits, Dim)
    val arms = Seq(4, 8, 16)
    // zero-norm vectors out up front (cosine undefined — the q202/q306
    // pre-flight contract), applied identically in the oracle
    val e = embOf(eRaw)
      .filter(expr("aggregate(transform(v, x -> x * x), 0D, (a, x) -> a + x)")
        > 0.0)
    // the anchor set: exact-k smallest md5 hash (ties impossible — ids
    // are distinct — but the id rides the sort anyway, the q235 form);
    // a TakeOrdered over N rows with a k-row heap, broadcast everywhere
    // it is used
    val anch = e.select(col("vec_id").as("a_id"),
        graft.functions.Hashing.md5U32(col("vec_id").cast("string"))
          .as("h"))
      .orderBy(col("h"), col("a_id")).limit(anchorK)
      .select("a_id")
    // anchor membership tags the vectors BEFORE the explode, so the
    // anchored candidate count falls out of the same banded equi-join —
    // no second pass over the pair set
    val eTag = e.join(broadcast(anch), col("vec_id") === col("a_id"),
        "left")
      .select(col("vec_id"), col("v"), col("a_id").isNotNull.as("isa"))
    // one scan, all arms: each arm re-segments the SAME signature bits,
    // so the fused explode carries struct(rpb, band, bkey) per band of
    // every arm — 56 rows/vector vs three scans
    val tagged = arms.map { r =>
      transform(
        graft.operators.Lsh.bandKeysCol(col("v"), planes, bits / r, r),
        (k, i) => struct(lit(r.toLong).as("rpb"), i.as("band"),
          k.as("bkey")))
    }
    val n = s.sessionState.conf.numShufflePartitions
    val ex = eTag.repartition(n)
      .select(col("vec_id"), col("isa"),
        explode(concat(tagged: _*)).as("bk"))
      .select(col("vec_id"), col("isa"), col("bk.rpb").as("rpb"),
        col("bk.band"), col("bk.bkey"))
    // `anch` is functionally determined by (va, vb), so the distinct's
    // cardinality is exactly the candidate-pair count
    val cand = ex.as("a")
      .join(ex.as("b"),
        col("a.rpb") === col("b.rpb") && col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.rpb").as("rpb"), col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        (col("a.isa") || col("b.isa")).as("anch"))
      .distinct()
    // the anchored truth set: anchors × corpus (corpus side streams past
    // an O(anchors) broadcast — the q381/q306 bounded-audit shape),
    // normalized least/greatest and deduped (an anchor–anchor pair is
    // generated from both sides; cosine is bit-commutative, so both
    // copies pass or fail the threshold together)
    val anchV = e.join(broadcast(anch), col("vec_id") === col("a_id"))
      .select(col("vec_id").as("qa"), col("v").as("xa"))
    val truth = e.select(col("vec_id").as("cb"), col("v").as("xb"))
      .crossJoin(broadcast(anchV))
      .filter(col("qa") =!= col("cb"))
      .select(least(col("qa"), col("cb")).as("va"),
        greatest(col("qa"), col("cb")).as("vb"),
        floor(graft.expressions.CosineSimilarity.sim(col("xa"), col("xb"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= truthE6)
      .select("va", "vb").distinct()
      .select(col("va"), col("vb"), lit(1L).as("is_true"))
    val truthN = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    val nRow = e.groupBy().agg(count(lit(1)).as("n_vectors"))
    val counts = cand.join(truth, Seq("va", "vb"), "left")
      .groupBy("rpb")
      .agg(count(lit(1)).as("n_cand"),
        sum(col("anch").cast("long")).as("n_cand_anch"),
        coalesce(sum("is_true"), lit(0L)).as("n_hit"))
    // static arm lattice: n_buckets = 2^r, prev_buckets = the next
    // narrower arm's 2^r (0 for the first) — the chosen rule needs both
    val armDim = s.range(1).select(explode(array(
        arms.zip(0L +: arms.map(r => 1L << r)).map { case (r, prev) =>
          struct(lit(r.toLong).as("rpb"), lit((bits / r).toLong).as("bands"),
            lit(1L << r).as("n_buckets"), lit(prev).as("prev_buckets"))
        }: _*)).as("a"))
      .select(col("a.rpb").as("rpb"), col("a.bands"), col("a.n_buckets"),
        col("a.prev_buckets"))
    armDim.join(counts, Seq("rpb"), "left")
      .crossJoin(broadcast(nRow))
      .crossJoin(broadcast(truthN))
      .select(col("rpb").as("rows_per_band"), col("bands"),
        col("n_buckets"), col("n_vectors"),
        // expected uniform bucket load, ceil division
        intDiv(col("n_vectors") + col("n_buckets") - 1L, col("n_buckets"))
          .as("exp_load"),
        // Lsh.tunedGeometry's rule as a column: smallest r with
        // n ≤ targetLoad·2^r, widest band as the fallback — thresholds
        // are monotone in r, so "smallest" is "qualifies and the
        // previous arm does not"
        ((col("prev_buckets") === 0L ||
            col("n_vectors") > lit(targetLoad) * col("prev_buckets")) &&
          (col("rpb") === arms.last.toLong ||
            col("n_vectors") <= lit(targetLoad) * col("n_buckets")))
          .cast("long").as("chosen"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_truth") > 0L,
          intDiv(lit(10000L) * coalesce(col("n_hit"), lit(0L)),
            col("n_truth"))).otherwise(lit(0L)).as("recall_e4"),
        // precision over the ANCHORED candidate subset (the pair
        // universe hits can come from) — the unbiased estimator of the
        // full arm's precision, measurable at any corpus size
        when(coalesce(col("n_cand_anch"), lit(0L)) > 0L,
          intDiv(lit(10000L) * coalesce(col("n_hit"), lit(0L)),
            col("n_cand_anch"))).otherwise(lit(0L)).as("precision_e4"))
  }

  /** IVF probe-count tuning table — q380's discipline pointed at the
    * OTHER ANN index knob (the nprobe recall/cost dial every IVF
    * deployment turns): probe ranks are computed ONCE at the widest arm
    * (a vector lives in exactly one cell, so each (query, candidate)
    * pair carries its cell's probe rank and arm p is just `prn ≤ p` —
    * one assignment pass, one probe pass, one candidate join for all
    * three arms), then per arm the MEASURED candidate volume, probed
    * fraction of the candidate universe, and recall@10 against the
    * exact brute top-10 (q50's e4-grid/id-tie contract), plus the
    * sizing rule's pick: `chosen` marks the smallest arm whose measured
    * recall clears 0.7 (widest as fallback) — the rule q56's deployment
    * conf (`spark.graft.ivf.nprobe`, [[ivfNProbe]]) applies, pinned in
    * IvfTuningSpec. Scale: both assignment passes broadcast only the
    * capped centroid table (O(cap) regardless of corpus size — the Ivf
    * contract); the brute truth arm is the q306-class bounded-query
    * audit shape (5 query vectors), never a production path; the table
    * is ≤ 3 rows.
    *
    * Memoized per (session, dir) like [[lshTuningTable]] (r18 verdict
    * item 2) — q381 and q382 both consume the chain; `rawChain` reaches
    * the lazy chain, MemoNeutralitySpec pins neutrality. */
  private val ivfTuningMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def ivfTuningTable(s: SparkSession, dir: String)
      : DataFrame =
    ivfTuningMemo.get(s, dir)(
      pin(ivfTuningOf(s, Tables.load(s, dir, "embeddings"))))

  private def q381(s: SparkSession, dir: String): DataFrame =
    ivfTuningTable(s, dir).orderBy("nprobe")

  /** The q381 chain over a GIVEN embeddings frame (streaming sizing
    * twin form — see [[lshTuningOf]]). */
  private[graft] def ivfTuningOf(s: SparkSession, eRaw: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.{intDiv, roundf}
    import graft.expressions.CosineSimilarity
    val arms = Seq(2, 6, 12)
    val recallBarE4 = 7000L
    val e = embOf(eRaw)
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cent = graft.operators.Ivf
      .selectCentroids(e, "vec_id", "v", CentRate, CentCap)
    val wA = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("c_id"))
    val assigned = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"), col("c_id"),
        roundf(CosineSimilarity.sim(col("v"), col("cv")), 4).as("ccos"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("c_id"))
    val wP = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("c_id"))
    val probes = qv.crossJoin(broadcast(cent))
      .select(col("q_id"), col("qv"), col("c_id"),
        roundf(CosineSimilarity.sim(col("qv"), col("cv")), 4).as("qcos"))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= arms.max)
      .select(col("q_id"), col("qv"), col("c_id"),
        col("prn").cast("long").as("prn"))
    val cand = assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("prn"),
        roundf(CosineSimilarity.sim(col("v"), col("qv")), 4).as("cos"))
    val truth = e.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        roundf(CosineSimilarity.sim(col("v"), col("qv")), 4).as("bcos"))
      .withColumn("brank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("bcos").desc, col("vec_id"))))
      .filter(col("brank") <= 10)
      .select(col("q_id"), col("vec_id"), lit(1L).as("is_true"))
    val truthN = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    val nRow = e.groupBy().agg(count(lit(1)).as("n_vectors"))
    val armDim = s.range(1).select(explode(array(
        arms.map(p => lit(p.toLong)): _*)).as("nprobe"))
    // arm expansion: a bounded 3-row lattice against the shared
    // candidate set — arm p owns the prefix prn ≤ p
    val armCand = cand.crossJoin(broadcast(armDim))
      .filter(col("prn") <= col("nprobe"))
    val nCand = armCand.groupBy("nprobe")
      .agg(count(lit(1)).as("n_cand"))
    val wR = Window.partitionBy("nprobe", "q_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val hits = armCand
      .withColumn("irank", row_number().over(wR))
      .filter(col("irank") <= 10)
      .join(truth, Seq("q_id", "vec_id"), "left")
      .groupBy("nprobe")
      .agg(coalesce(sum("is_true"), lit(0L)).as("n_hit"))
    val tbl = armDim.join(nCand, Seq("nprobe"), "left")
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nRow))
      .crossJoin(broadcast(truthN))
      .select(col("nprobe"), col("n_vectors"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        intDiv(lit(10000L) * coalesce(col("n_cand"), lit(0L)),
          lit(5L) * (col("n_vectors") - 1L)).as("probed_frac_e4"),
        col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_truth") > 0L,
          intDiv(lit(10000L) * coalesce(col("n_hit"), lit(0L)),
            col("n_truth"))).otherwise(lit(0L)).as("recall_e4"))
    // the pick: smallest arm clearing the recall bar, widest fallback —
    // a 1-row scalar over the ≤3-row table, attached by crossJoin (the
    // q380 chosen discipline without an unpartitioned window)
    val firstOk = tbl.agg(
      min(when(col("recall_e4") >= recallBarE4, col("nprobe")))
        .as("first_ok"))
    tbl.crossJoin(broadcast(firstOk))
      .select(col("nprobe"), col("n_vectors"), col("n_cand"),
        col("probed_frac_e4"), col("n_truth"), col("n_hit"),
        col("recall_e4"),
        when(col("first_ok").isNull, col("nprobe") === arms.max.toLong)
          .otherwise(col("nprobe") === col("first_ok"))
          .cast("long").as("chosen"))
  }

  /** The index sizing plan — the three tuning tables' chosen rows as
    * ONE deployment artifact: per index family (sign-LSH geometry, IVF
    * probe count, MinHash band count) the knob's conf key, the value
    * its sizing rule picks for THIS corpus, and the measured recall the
    * pick carries. This is the table an operator reads before setting
    * `spark.graft.lsh.rowsPerBand` / `spark.graft.ivf.nprobe` /
    * `spark.graft.minhash.bands` — the r18 tuner-consumption discipline
    * rolled up (q380's occupancy rule, q381's smallest-arm-clearing-0.7,
    * q270's smallest-bands-clearing-0.95 as pinned by
    * MinhashTuningSpec). Pure composition of the three oracle-checked
    * tables, each read from its (session, dir) memo — a warm q382 is
    * three ≤3-row checkpoint reads, not three corpus-scale rebuilds
    * (r18 verdict item 2); the minhash pick is a 1-row scalar
    * crossJoin over q270's ≤3-row table — the q381 firstOk discipline;
    * IndexSizingSpec pins plan ≡ each table's own chosen row and ≡ the
    * Scala rules. */
  private def q382(s: SparkSession, dir: String): DataFrame =
    sizingCompose(lshTuningTable(s, dir), ivfTuningTable(s, dir),
      DedupQueries.minhashTuningTable(s, dir))

  /** The sizing plan over GIVEN corpus frames — the streaming drift
    * twin's form (r18 verdict item 5): the knobs are static session
    * confs sized from corpus n, but n grows; the twin re-derives this
    * table per micro-batch over exactly the arrived corpus, so a
    * growing corpus flips a sizing row the moment its rule says widen
    * (StreamingSpec pins prefix-equality with this construction and
    * drained ≡ the declared q382). */
  private[graft] def indexSizingOf(s: SparkSession, eRaw: DataFrame,
      dRaw: DataFrame): DataFrame =
    sizingCompose(lshTuningOf(s, eRaw), ivfTuningOf(s, eRaw),
      DedupQueries.minhashTuningOf(s, dRaw))

  /** The q382 composition over the three tuning tables (memoized or
    * prefix-derived — the arithmetic is identical). */
  private def sizingCompose(lshT: DataFrame, ivfT: DataFrame,
      mh0: DataFrame): DataFrame = {
    val lsh = lshT.filter(col("chosen") === 1L)
      .select(lit("spark.graft.lsh.rowsPerBand").as("knob"),
        col("rows_per_band").as("chosen_value"), col("recall_e4"))
    val ivf = ivfT.filter(col("chosen") === 1L)
      .select(lit("spark.graft.ivf.nprobe").as("knob"),
        col("nprobe").as("chosen_value"), col("recall_e4"))
    val mhPick = mh0.agg(coalesce(
        min(when(col("recall_e4") >= 9500L, col("bands"))),
        max(col("bands"))).as("pick"))
    val mh = mh0.crossJoin(broadcast(mhPick))
      .filter(col("bands") === col("pick"))
      .select(lit("spark.graft.minhash.bands").as("knob"),
        col("bands").as("chosen_value"), col("recall_e4"))
    lsh.unionByName(ivf).unionByName(mh).orderBy("knob")
  }

  /** Johnson–Lindenstrauss projection audit — "can 16 random dimensions
    * stand in for 64": every vector projects onto 16 md5-seeded
    * hyperplanes (the [[graft.operators.Lsh]] plane family, so both
    * engines re-derive identical planes), and for every pair in the
    * deterministic audit sample (vec_id < 100 — an audit runs on a
    * sample by design; the estimator, not the pair set, is what scales)
    * the squared distance in the projected space, scaled by the
    * unbiased 3/k factor (plane components are uniform[-1,1) ⇒
    * variance 1/3), is compared to the original: ratio_e4 ≈ 10⁴ means
    * the sketch preserves geometry. Float channels are closed by FIXED
    * EVALUATION ORDER: both d² forms expand into the same textual
    * arithmetic in both engines (three index-order dot products;
    * sixteen squared differences summed left-to-right as columns, never
    * a float sum() aggregate), so every double is bit-identical and the
    * e6/e4 floors agree. */
  private def q310(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val planes = graft.operators.Lsh.hyperplanes(k, Dim)
    val e = emb(s, dir).filter(col("vec_id") < 100)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val projCols = (0 until k).map { h =>
      dot(col("v"), array(planes(h).map(lit).toIndexedSeq: _*)).as(s"p$h")
    }
    val proj = e.select(col("vec_id") +: col("v") +: projCols: _*)
    def side(tag: String) = proj.select(
      col("vec_id").as(tag) +: col("v").as(s"v$tag") +:
        (0 until k).map(h => col(s"p$h").as(s"p$h$tag")): _*)
    val d2p = (0 until k).map(h =>
        (col(s"p${h}a") - col(s"p${h}b")) * (col(s"p${h}a") - col(s"p${h}b")))
      .reduce(_ + _)
    val d2o = dot(col("va"), col("va")) -
      lit(2.0) * dot(col("va"), col("vb")) + dot(col("vb"), col("vb"))
    side("a").crossJoin(broadcast(side("b")))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        floor(d2o * lit(1000000.0) + lit(0.5)).cast("long").as("d2_orig_e6"),
        floor(d2p * lit(1000000.0) + lit(0.5)).cast("long").as("d2_proj_e6"),
        when(d2o > 0.0,
          floor(lit(10000.0) * lit(3.0) * d2p / (lit(k.toDouble) * d2o) +
            lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("ratio_e4"))
      .orderBy("a", "b")
  }

  /** Label-centroid cosine matrix — "which labels point the same way in
    * embedding space": every component quantizes once onto the e6
    * integer grid, per-label per-dimension SUMS accumulate exactly in
    * decimal (the mean's 1/n cancels in cosine, so centroids never
    * materialize as floats), the pairwise dot and both norms are exact
    * integers, and the single cosine per label pair runs the one
    * fixed-order double chain on identical operands (the q300 sqrt
    * argument). The semantic companion to q302's lexical TVD matrix;
    * ≈ 0 everywhere on these isotropic synthetic labels is the null
    * reading. One exchange of label×dim cells; the pair join fans out
    * over |labels|² cells — dimension-bounded, corpus-free. */
  private def q317(s: SparkSession, dir: String): DataFrame = {
    val cells = emb(s, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(expr(
          "transform(v, x -> cast(floor(x * 1000000.0 + 0.5) as bigint))")))
      .toDF("label", "pos", "qv")
      .groupBy("label", "pos")
      .agg(sum(col("qv").cast("decimal(38,0)")).as("sn"))
    val norms = cells.groupBy("label")
      .agg(sum(col("sn") * col("sn")).as("q2"))
    val dots = cells.select(col("label").as("la"), col("pos"),
        col("sn").as("sa"))
      .join(cells.select(col("label").as("lb"), col("pos"),
        col("sn").as("sb")), "pos")
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(sum(col("sa") * col("sb")).as("dot"))
    dots
      .join(norms.select(col("label").as("la"), col("q2").as("qa")), "la")
      .join(norms.select(col("label").as("lb"), col("q2").as("qb")), "lb")
      .select(col("la"), col("lb"),
        when(col("qa") > 0 && col("qb") > 0,
          floor(col("dot").cast("double") /
            (sqrt(col("qa").cast("double")) * sqrt(col("qb").cast("double")))
            * lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("centroid_cos_e6"))
      .orderBy("la", "lb")
  }

  val defs: Map[String, Q] = Map(
    "q339_dim_stats" -> (q339 _),
    "q305_cos_calibration" -> (q305 _),
    "q306_label_noise" -> (q306 _),
    "q378_label_noise_ann" -> (q378 _),
    "q380_lsh_geometry" -> (q380 _),
    "q381_ivf_probe_tuning" -> (q381 _),
    "q382_index_sizing_plan" -> (q382 _),
    "q310_jl_audit" -> (q310 _),
    "q317_label_centroids" -> (q317 _),
    "q50_knn_cosine" -> (q50 _),
    "q227_hard_negatives" -> (q227 _),
    "q229_anchor_auc" -> (q229 _),
    "q248_youden_threshold" -> (q248 _),
    "q250_lsh_mrr" -> (q250 _),
    "q281_lsh_ndcg" -> (q281 _),
    "q232_ann_recall" -> (q232 _),
    "q194_hybrid_rrf" -> (q194 _),
    "q202_embedding_audit" -> (q202 _),
    "q220_matryoshka_audit" -> (q220 _),
    "q223_mutual_knn" -> (q223 _),
    "q384_crossmodal_retrieval" -> (q384 _),
    "q51_knn_lsh" -> (q51 _),
    "q56_knn_ivf" -> (q56 _),
    "q91_sq8_quantize" -> (q91 _),
    "q118_kmeans" -> (q118 _),
    "q280_cluster_purity" -> (q280 _),
    "q286_alignment" -> (q286 _),
    "q288_effective_dim" -> (q288 _),
    "q149_pq_codes" -> (q149 _),
    "q150_semdedup" -> (q150 _),
    "q161_adc_scan" -> (q161 _))

  private def rnd(e: String): String =
    s"floor(($e) * 10000.0 + 0.5) / 10000.0"


  /** q380's oracle SQL — a val so the q382 sizing-plan oracle can embed
    * the same chain as a scoped derived table. */
  private lazy val q380Sql: String = {
    import graft.functions.Rounding.intDivSql
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
      |    CAST(embedding AS DOUBLE[])) > 0),
      |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
      |arms AS (SELECT * FROM (VALUES (4, 32, 16, 0), (8, 16, 256, 16),
      |  (16, 8, 65536, 256)) t(rpb, bands, n_buckets, prev_buckets)),
      |bnd AS (SELECT unnest(generate_series(0, 31)) AS band),
      |anch AS (
      |  SELECT vec_id AS a_id FROM e
      |  ORDER BY ${graft.functions.Hashing
          .md5U32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
      |  LIMIT 64),
      |ba AS (
      |  SELECT a.rpb, s.vec_id, b.band,
      |    substr(s.sig, b.band * a.rpb + 1, a.rpb) AS bkey,
      |    (an.a_id IS NOT NULL) AS isa
      |  FROM sigs s LEFT JOIN anch an ON s.vec_id = an.a_id, arms a, bnd b
      |  WHERE b.band < a.bands),
      |cand AS (
      |  SELECT DISTINCT x.rpb, x.vec_id AS va, y.vec_id AS vb,
      |    (x.isa OR y.isa) AS anchd
      |  FROM ba x JOIN ba y ON x.rpb = y.rpb AND x.band = y.band
      |    AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
      |truth AS (
      |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS va,
      |    greatest(a.vec_id, b.vec_id) AS vb
      |  FROM e a JOIN anch an ON a.vec_id = an.a_id, e b
      |  WHERE a.vec_id <> b.vec_id
      |    AND CAST(floor(list_cosine_similarity(a.v, b.v) * 1000000.0
      |      + 0.5) AS BIGINT) >= 400000),
      |tn AS (SELECT count(*) AS n_truth FROM truth),
      |nv AS (SELECT count(*) AS n_vectors FROM e),
      |cc AS (
      |  SELECT c.rpb, count(*) AS n_cand,
      |    CAST(sum(CASE WHEN c.anchd THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_cand_anch,
      |    CAST(coalesce(sum(CASE WHEN t.va IS NOT NULL THEN 1 ELSE 0
      |      END), 0) AS BIGINT) AS n_hit
      |  FROM cand c LEFT JOIN truth t ON c.va = t.va AND c.vb = t.vb
      |  GROUP BY c.rpb)
      |SELECT CAST(a.rpb AS BIGINT) AS rows_per_band,
      |  CAST(a.bands AS BIGINT) AS bands,
      |  CAST(a.n_buckets AS BIGINT) AS n_buckets,
      |  nv.n_vectors,
      |  ${intDivSql("nv.n_vectors + a.n_buckets - 1", "a.n_buckets")}
      |    AS exp_load,
      |  CAST((a.prev_buckets = 0 OR nv.n_vectors > 512 * a.prev_buckets)
      |    AND (a.rpb = 16 OR nv.n_vectors <= 512 * a.n_buckets)
      |    AS BIGINT) AS chosen,
      |  CAST(coalesce(cc.n_cand, 0) AS BIGINT) AS n_cand,
      |  tn.n_truth,
      |  CAST(coalesce(cc.n_hit, 0) AS BIGINT) AS n_hit,
      |  CASE WHEN tn.n_truth > 0 THEN ${intDivSql(
          "10000 * coalesce(cc.n_hit, 0)", "tn.n_truth")}
      |    ELSE 0 END AS recall_e4,
      |  CASE WHEN coalesce(cc.n_cand_anch, 0) > 0 THEN ${intDivSql(
          "10000 * coalesce(cc.n_hit, 0)", "coalesce(cc.n_cand_anch, 0)")}
      |    ELSE 0 END AS precision_e4
      |FROM arms a LEFT JOIN cc ON a.rpb = cc.rpb, nv, tn
      |ORDER BY rows_per_band""".stripMargin
  }

  /** q381's oracle SQL — a val for the same q382 embedding. */
  private lazy val q381Sql: String = {
    import graft.functions.Rounding.intDivSql
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |cent AS (
      |  ${Ivf.centroidsSql(CentRate, CentCap)}),
      |assigned AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT e.vec_id, e.v, cent.c_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${rnd("list_cosine_similarity(e.v, cent.cv)")} DESC,
      |          cent.c_id) AS rn
      |    FROM e, cent)
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
      |probes AS (
      |  SELECT q_id, qv, c_id, CAST(rn AS BIGINT) AS prn FROM (
      |    SELECT q.q_id, q.qv, cent.c_id,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY ${rnd("list_cosine_similarity(q.qv, cent.cv)")} DESC,
      |          cent.c_id) AS rn
      |    FROM q, cent)
      |  WHERE rn <= 12),
      |arms AS (SELECT CAST(nprobe AS BIGINT) AS nprobe
      |  FROM (VALUES (2), (6), (12)) t(nprobe)),
      |cand AS (
      |  SELECT p.q_id, a.vec_id, p.prn,
      |    ${rnd("list_cosine_similarity(a.v, p.qv)")} AS cos
      |  FROM assigned a JOIN probes p USING (c_id)
      |  WHERE a.vec_id <> p.q_id),
      |truth AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q.q_id, e.vec_id,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY ${rnd("list_cosine_similarity(e.v, q.qv)")} DESC,
      |          e.vec_id) AS br
      |    FROM e, q WHERE e.vec_id <> q.q_id)
      |  WHERE br <= 10),
      |tn AS (SELECT count(*) AS n_truth FROM truth),
      |nv AS (SELECT count(*) AS n_vectors FROM e),
      |ac AS (
      |  SELECT ar.nprobe, c.q_id, c.vec_id, c.cos
      |  FROM cand c JOIN arms ar ON c.prn <= ar.nprobe),
      |nc AS (SELECT nprobe, count(*) AS n_cand FROM ac GROUP BY 1),
      |top10 AS (
      |  SELECT nprobe, q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
      |      ORDER BY cos DESC, vec_id) AS ir FROM ac)
      |  WHERE ir <= 10),
      |hits AS (
      |  SELECT t.nprobe, count(*) AS n_hit
      |  FROM top10 t JOIN truth USING (q_id, vec_id) GROUP BY 1),
      |tbl AS (
      |  SELECT ar.nprobe, nv.n_vectors,
      |    CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
      |    ${intDivSql("10000 * coalesce(nc.n_cand, 0)",
         "5 * (nv.n_vectors - 1)")} AS probed_frac_e4,
      |    tn.n_truth,
      |    CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |    CASE WHEN tn.n_truth > 0 THEN ${intDivSql(
         "10000 * coalesce(h.n_hit, 0)", "tn.n_truth")}
      |      ELSE 0 END AS recall_e4
      |  FROM arms ar LEFT JOIN nc ON ar.nprobe = nc.nprobe
      |    LEFT JOIN hits h ON ar.nprobe = h.nprobe, nv, tn),
      |fq AS (SELECT min(CASE WHEN recall_e4 >= 7000 THEN nprobe END)
      |  AS first_ok FROM tbl)
      |SELECT tbl.*, CAST(CASE WHEN fq.first_ok IS NULL
      |    THEN tbl.nprobe = 12 ELSE tbl.nprobe = fq.first_ok END
      |  AS BIGINT) AS chosen
      |FROM tbl, fq ORDER BY nprobe""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same e6 grid, power-sum variance, signed truncated rationals
    "q339_dim_stats" -> {
      val mean = graft.functions.Rounding.intDivExactSql("s", "n")
      val vr = graft.functions.Rounding.intDivExactSql(
        "CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s",
        "CAST(n AS HUGEINT) * n * 1000000")
      s"""WITH raw AS (
        |  SELECT unnest(embedding) AS x,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |comp AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
        |      AS BIGINT) AS xe
        |  FROM raw),
        |agg AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xe) AS HUGEINT) AS s,
        |    CAST(sum(CAST(xe AS HUGEINT) * xe) AS HUGEINT) AS q,
        |    CAST(min(xe) AS BIGINT) AS min_e6,
        |    CAST(max(xe) AS BIGINT) AS max_e6
        |  FROM comp GROUP BY dim)
        |SELECT dim, n, $mean AS mean_e6, $vr AS var_e6, min_e6, max_e6
        |FROM agg ORDER BY dim""".stripMargin
    },
    // same e6 quantization, HUGEINT cell sums, one identical double
    // chain per label pair
    "q317_label_centroids" ->
      """WITH ql AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |px AS (SELECT label, v, unnest(generate_series(1, len(v))) AS pos
        |       FROM ql),
        |q AS (SELECT label, pos,
        |    CAST(floor(v[pos] * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM px),
        |cells AS (SELECT label, pos, sum(CAST(qv AS HUGEINT)) AS sn
        |          FROM q GROUP BY 1, 2),
        |norms AS (SELECT label, sum(sn * sn) AS q2 FROM cells GROUP BY 1),
        |dots AS (
        |  SELECT a.label AS la, b.label AS lb, sum(a.sn * b.sn) AS dot
        |  FROM cells a JOIN cells b
        |    ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT la, lb,
        |  CASE WHEN qa.q2 > 0 AND qb.q2 > 0 THEN
        |    CAST(floor(CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(qa.q2 AS DOUBLE)) * sqrt(CAST(qb.q2 AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT)
        |  ELSE NULL END AS centroid_cos_e6
        |FROM dots
        |JOIN norms qa ON la = qa.label
        |JOIN norms qb ON lb = qb.label
        |ORDER BY la, lb""".stripMargin,
    // same md5-seeded planes, same fixed-textual-order d² forms (three
    // index-order dot products / sixteen left-assoc squared diffs), so
    // every double matches bit-for-bit before the floors
    "q310_jl_audit" -> {
      val pPivot = (0 until 16)
        .map(h => s"max(CASE WHEN h = $h THEN d END) AS p$h")
        .mkString(", ")
      val d2pSql = (0 until 16)
        .map(h => s"(pa.p$h - pb.p$h) * (pa.p$h - pb.p$h)")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 100),
        |${Lsh.signatureSqlCtes(16, Dim)},
        |pr AS (
        |  SELECT vec_id, h, list_dot_product(v, p) AS d FROM e, planes),
        |pv AS (SELECT vec_id, $pPivot FROM pr GROUP BY vec_id),
        |pairs AS (
        |  SELECT ea.vec_id AS a, eb.vec_id AS b,
        |    list_dot_product(ea.v, ea.v)
        |      - 2.0 * list_dot_product(ea.v, eb.v)
        |      + list_dot_product(eb.v, eb.v) AS d2o
        |  FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id),
        |j AS (
        |  SELECT p.a, p.b, d2o, $d2pSql AS d2p
        |  FROM pairs p JOIN pv pa ON p.a = pa.vec_id
        |  JOIN pv pb ON p.b = pb.vec_id)
        |SELECT a, b,
        |  CAST(floor(d2o * 1000000.0 + 0.5) AS BIGINT) AS d2_orig_e6,
        |  CAST(floor(d2p * 1000000.0 + 0.5) AS BIGINT) AS d2_proj_e6,
        |  CASE WHEN d2o > 0.0 THEN
        |    CAST(floor(10000.0 * 3.0 * d2p / (16.0 * d2o) + 0.5) AS BIGINT)
        |  ELSE NULL END AS ratio_e4
        |FROM j ORDER BY a, b""".stripMargin
    },
    "q305_cos_calibration" ->
      s"""WITH e AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |p AS (
        |  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
        |sc AS (
        |  SELECT CAST(floor(list_cosine_similarity(ea.v, eb.v) * 1000000.0
        |      + 0.5) AS BIGINT) AS cos_e6,
        |    CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END AS same
        |  FROM p JOIN e ea ON p.a = ea.vec_id
        |         JOIN e eb ON p.b = eb.vec_id),
        |b AS (
        |  SELECT least(9, CAST(((cos_e6 + 1000000) -
        |      ((cos_e6 + 1000000) % 200000)) / 200000 AS BIGINT)) AS bin,
        |    count(*) AS n_pairs, CAST(sum(same) AS BIGINT) AS n_same
        |  FROM sc GROUP BY 1)
        |SELECT bin, n_pairs, n_same,
        |  CAST((CAST(n_same AS HUGEINT) * 20000 + n_pairs)
        |    // (2 * n_pairs) AS BIGINT) AS same_rate_e4
        |FROM b ORDER BY bin""".stripMargin,
    // brute 5-NN on the same e6 grid / id tie-break, neighborhood label
    // vote, suspects at n_same5 <= 2
    "q306_label_noise" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])) > 0),
        |sc AS (
        |  SELECT q.vec_id AS q, q.label AS ql, c.label AS cl,
        |    CAST(floor(list_cosine_similarity(q.v, c.v) * 1000000.0 + 0.5)
        |      AS BIGINT) AS cos_e6,
        |    c.vec_id AS c
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
        |top5 AS (
        |  SELECT q, ql, cl FROM sc
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q ORDER BY cos_e6 DESC, c) <= 5)
        |SELECT q AS vec_id, ql AS label,
        |  CAST(sum(CASE WHEN cl = ql THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_same5,
        |  CAST(sum(CASE WHEN cl = ql THEN 1 ELSE 0 END) <= 2 AS BIGINT)
        |    AS is_suspect
        |FROM top5 GROUP BY q, ql ORDER BY vec_id""".stripMargin,
    // q305's LSH candidate chain, symmetrized, then q306's vote — same
    // e6 grid, same (cos desc, id) tie-break, majority-loss rule
    "q378_label_noise_ann" ->
      s"""WITH e AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |p AS (
        |  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
        |sc AS (
        |  SELECT p.a, p.b, ea.label AS la, eb.label AS lb,
        |    CAST(floor(list_cosine_similarity(ea.v, eb.v) * 1000000.0
        |      + 0.5) AS BIGINT) AS cos_e6
        |  FROM p JOIN e ea ON p.a = ea.vec_id
        |         JOIN e eb ON p.b = eb.vec_id),
        |sym AS (
        |  SELECT a AS q, la AS ql, b AS c, lb AS cl, cos_e6 FROM sc
        |  UNION ALL
        |  SELECT b, lb, a, la, cos_e6 FROM sc),
        |top5 AS (
        |  SELECT q, ql, cl FROM sym
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q ORDER BY cos_e6 DESC, c) <= 5)
        |SELECT q AS vec_id, ql AS label,
        |  CAST(count(*) AS BIGINT) AS n_cand5,
        |  CAST(sum(CASE WHEN cl = ql THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_same5,
        |  CAST(2 * sum(CASE WHEN cl = ql THEN 1 ELSE 0 END) <= count(*)
        |    AS BIGINT) AS is_suspect
        |FROM top5 GROUP BY q, ql ORDER BY vec_id""".stripMargin,
    // the same 128-bit signature re-segmented three ways, candidates
    // mined per arm, brute truth at the same e6 threshold, and the
    // tunedGeometry rule as SQL — all integer columns
    // the same 128-bit signature re-segmented three ways, candidates
    // mined per arm, brute truth at the same e6 threshold, and the
    // tunedGeometry rule as SQL — all integer columns
    "q380_lsh_geometry" -> q380Sql,
    // q56's assignment/probe chain computed once at the widest arm with
    // the probe rank riding, the 3-arm lattice as prefix filters, brute
    // truth on the q50 contract, and the smallest-arm-clearing-0.7 rule
    "q381_ivf_probe_tuning" -> q381Sql,
    // the three tuning tables' chosen rows as ONE deployment artifact —
    // each family's full oracle chain runs as a scoped derived table
    "q382_index_sizing_plan" ->
      s"""WITH g AS (SELECT * FROM ($q380Sql) t),
        |i AS (SELECT * FROM ($q381Sql) t),
        |mh AS (SELECT * FROM (${DedupQueries.oracle("q270_lsh_tuning")}) t),
        |mhp AS (SELECT coalesce(
        |    min(CASE WHEN recall_e4 >= 9500 THEN bands END),
        |    max(bands)) AS pick FROM mh)
        |SELECT knob, chosen_value, recall_e4 FROM (
        |  SELECT 'spark.graft.lsh.rowsPerBand' AS knob,
        |    rows_per_band AS chosen_value, recall_e4 FROM g
        |  WHERE chosen = 1
        |  UNION ALL
        |  SELECT 'spark.graft.ivf.nprobe', nprobe, recall_e4 FROM i
        |  WHERE chosen = 1
        |  UNION ALL
        |  SELECT 'spark.graft.minhash.bands', bands, recall_e4
        |  FROM mh, mhp WHERE bands = pick
        |) ORDER BY knob""".stripMargin,
    // q50's brute chain and q51's LSH chain side by side (CTEs renamed
    // apart), diffed with the same left join + per-query aggregate
    "q232_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |sb AS (
        |  SELECT q_id, vec_id, ${rnd("list_cosine_similarity(v, qv)")} AS cos
        |  FROM e, q WHERE vec_id <> q_id),
        |brute AS (
        |  SELECT q_id, vec_id FROM sb
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |qb AS (SELECT vec_id AS q_id, band, bkey FROM bands
        |       WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT qb.q_id, bands.vec_id
        |  FROM bands JOIN qb ON bands.band = qb.band AND bands.bkey = qb.bkey
        |  WHERE bands.vec_id <> qb.q_id),
        |sl AS (
        |  SELECT c.q_id, c.vec_id,
        |    ${rnd("list_cosine_similarity(ev.v, qv2.v)")} AS cos
        |  FROM cand c
        |  JOIN e ev ON c.vec_id = ev.vec_id
        |  JOIN e qv2 ON c.q_id = qv2.vec_id),
        |lsh AS (
        |  SELECT q_id, vec_id, 1 AS in_lsh FROM sl
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10)
        |SELECT b.q_id, count(*) AS n_brute,
        |  CAST(coalesce(sum(l.in_lsh), 0) AS BIGINT) AS n_common,
        |  CAST(floor(10000.0 * CAST(coalesce(sum(l.in_lsh), 0) AS BIGINT)
        |    / count(*) + 0.5) AS BIGINT) AS recall_e4
        |FROM brute b LEFT JOIN lsh l
        |  ON b.q_id = l.q_id AND b.vec_id = l.vec_id
        |GROUP BY b.q_id
        |ORDER BY b.q_id""".stripMargin,
    // the same literal discount table (VALUES), same graded join
    "q281_lsh_ndcg" -> {
      import graft.functions.Rounding.intDivExactSql
      val vals = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
        .zipWithIndex.map { case (d, i) => s"(${i + 1}, $d)" }
        .mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |sb AS (
        |  SELECT q_id, vec_id, ${rnd("list_cosine_similarity(v, qv)")} AS cos
        |  FROM e, q WHERE vec_id <> q_id),
        |brute AS (
        |  SELECT q_id, vec_id,
        |    11 - row_number() OVER (
        |      PARTITION BY q_id ORDER BY cos DESC, vec_id) AS grade
        |  FROM sb
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |qb AS (SELECT vec_id AS q_id, band, bkey FROM bands
        |       WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT qb.q_id, bands.vec_id
        |  FROM bands JOIN qb ON bands.band = qb.band AND bands.bkey = qb.bkey
        |  WHERE bands.vec_id <> qb.q_id),
        |sl AS (
        |  SELECT c.q_id, c.vec_id,
        |    ${rnd("list_cosine_similarity(ev.v, qv2.v)")} AS cos
        |  FROM cand c
        |  JOIN e ev ON c.vec_id = ev.vec_id
        |  JOIN e qv2 ON c.q_id = qv2.vec_id),
        |lsh AS (
        |  SELECT q_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS BIGINT) AS lsh_rank
        |  FROM sl
        |  QUALIFY lsh_rank <= 10),
        |dtab AS (
        |  SELECT * FROM (VALUES $vals) AS t(lsh_rank, d)),
        |agg AS (
        |  SELECT b.q_id, CAST(sum(b.grade * dtab.d) AS BIGINT) AS dcg
        |  FROM brute b
        |  JOIN lsh l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
        |  JOIN dtab ON l.lsh_rank = dtab.lsh_rank
        |  GROUP BY b.q_id)
        |SELECT q_id, dcg,
        |  ${intDivExactSql(
             "CAST(dcg AS HUGEINT) * 20000 + 29966114", "2 * 29966114")}
        |    AS ndcg_e4
        |FROM agg ORDER BY q_id""".stripMargin
    },
    // q232's two chains with the brute arm cut to top-1 gold and the
    // LSH arm left unbounded; the same floor-before-mean divisions
    "q250_lsh_mrr" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |sb AS (
        |  SELECT q_id, vec_id, ${rnd("list_cosine_similarity(v, qv)")} AS cos
        |  FROM e, q WHERE vec_id <> q_id),
        |gold AS (
        |  SELECT q_id, vec_id FROM sb
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) = 1),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |qb AS (SELECT vec_id AS q_id, band, bkey FROM bands
        |       WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT qb.q_id, bands.vec_id
        |  FROM bands JOIN qb ON bands.band = qb.band AND bands.bkey = qb.bkey
        |  WHERE bands.vec_id <> qb.q_id),
        |sl AS (
        |  SELECT c.q_id, c.vec_id,
        |    ${rnd("list_cosine_similarity(ev.v, qv2.v)")} AS cos
        |  FROM cand c
        |  JOIN e ev ON c.vec_id = ev.vec_id
        |  JOIN e qv2 ON c.q_id = qv2.vec_id),
        |lr AS (
        |  SELECT q_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        |  FROM sl),
        |j AS (
        |  SELECT g.q_id,
        |    coalesce(${intDivSql("1000000", "lr.rank")}, 0) AS rr
        |  FROM gold g LEFT JOIN lr
        |    ON g.q_id = lr.q_id AND g.vec_id = lr.vec_id)
        |SELECT count(*) AS n_queries,
        |  CAST(sum(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_found,
        |  ${intDivSql("sum(rr)", "count(*)")} AS mrr_e6
        |FROM j""".stripMargin
    },
    // q229's cells + the integer cross-product Youden objective; the
    // min-struct argmax ties toward the smallest threshold identically
    "q248_youden_threshold" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |anchors AS (
        |  SELECT label AS albl, min(vec_id) AS anchor_id
        |  FROM e GROUP BY 1),
        |av AS (
        |  SELECT a.albl, a.anchor_id, e.v AS avec
        |  FROM anchors a JOIN e ON a.anchor_id = e.vec_id),
        |scored AS (
        |  SELECT av.albl, av.anchor_id,
        |    ${rnd("list_cosine_similarity(e.v, av.avec)")} AS score,
        |    CASE WHEN e.label = av.albl THEN 1 ELSE 0 END AS pos
        |  FROM e CROSS JOIN av
        |  WHERE e.vec_id <> av.anchor_id),
        |hist AS (
        |  SELECT albl, anchor_id, score,
        |    CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(1 - pos) AS BIGINT) AS nn
        |  FROM scored GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT albl, anchor_id, score,
        |    coalesce(sum(np) OVER (PARTITION BY albl ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_np,
        |    coalesce(sum(nn) OVER (PARTITION BY albl ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_nn,
        |    sum(np) OVER (PARTITION BY albl) AS npos,
        |    sum(nn) OVER (PARTITION BY albl) AS nneg
        |  FROM hist),
        |jn AS (
        |  SELECT albl, anchor_id,
        |    CAST(npos AS BIGINT) AS npos, CAST(nneg AS BIGINT) AS nneg,
        |    score,
        |    CAST((npos - cum_np) * nneg - (nneg - cum_nn) * npos
        |      AS BIGINT) AS j_num
        |  FROM cells),
        |agg AS (
        |  SELECT albl, anchor_id, npos, nneg,
        |    min(struct_pack(nj := -j_num, t := score)) AS m
        |  FROM jn GROUP BY 1, 2, 3, 4)
        |SELECT albl AS label, anchor_id, m.t AS threshold,
        |  ${graft.functions.Rounding.intDivExactSql(
             "CAST(-(m.nj) AS HUGEINT) * 2000000 + npos * nneg",
             "2 * npos * nneg")} AS j_e6
        |FROM agg ORDER BY label""".stripMargin,
    // same histogram-cell rank-sum; DuckDB's framed window sum is the
    // engine's cum_nn, all counts integral until the one final division
    "q229_anchor_auc" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |anchors AS (
        |  SELECT label AS albl, min(vec_id) AS anchor_id
        |  FROM e GROUP BY 1),
        |av AS (
        |  SELECT a.albl, a.anchor_id, e.v AS avec
        |  FROM anchors a JOIN e ON a.anchor_id = e.vec_id),
        |scored AS (
        |  SELECT av.albl, av.anchor_id,
        |    ${rnd("list_cosine_similarity(e.v, av.avec)")} AS score,
        |    CASE WHEN e.label = av.albl THEN 1 ELSE 0 END AS pos
        |  FROM e CROSS JOIN av
        |  WHERE e.vec_id <> av.anchor_id),
        |hist AS (
        |  SELECT albl, anchor_id, score,
        |    CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(1 - pos) AS BIGINT) AS nn
        |  FROM scored GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT *, coalesce(sum(nn) OVER (PARTITION BY albl ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
        |  FROM hist)
        |SELECT albl AS label, anchor_id,
        |  CAST(sum(np) AS BIGINT) AS npos,
        |  CAST(sum(nn) AS BIGINT) AS nneg,
        |  CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS two_u,
        |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
        |    CAST(floor(1000000.0 * sum(np * (2 * cum_nn + nn)) /
        |      (2.0 * sum(np) * sum(nn)) + 0.5) AS BIGINT)
        |  ELSE NULL END AS auc_e6
        |FROM cum GROUP BY albl, anchor_id
        |ORDER BY label""".stripMargin,
    // q223's band CTEs with an anchor-side probe filter; the engine's
    // per-anchor row_number window is the same QUALIFY rank
    "q227_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q, c.vec_id AS c
        |  FROM bands q JOIN bands c
        |    ON q.band = c.band AND q.bkey = c.bkey
        |      AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT cd.q AS q_id, cd.c AS neg_id, ec.label AS neg_label,
        |    ${rnd("list_cosine_similarity(eq.v, ec.v)")} AS cos
        |  FROM cand cd
        |  JOIN e eq ON cd.q = eq.vec_id
        |  JOIN e ec ON cd.c = ec.vec_id
        |  WHERE eq.label <> ec.label)
        |SELECT q_id, neg_id, neg_label, cos,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, neg_id) AS BIGINT) AS neg_rank
        |FROM scored
        |QUALIFY neg_rank <= 5
        |ORDER BY q_id, neg_rank""".stripMargin,
    // same md5-seeded planes/bands as q51's oracle, same (cos DESC, id)
    // argmax stated as QUALIFY row_number = the engine's min(struct) —
    // mutuality is the same keyed self-join
    "q223_mutual_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey
        |      AND a.vec_id < b.vec_id),
        |scored AS (
        |  SELECT c.a, c.b,
        |    ${rnd("list_cosine_similarity(ea.v, eb.v)")} AS cos
        |  FROM cand c
        |  JOIN e ea ON c.a = ea.vec_id
        |  JOIN e eb ON c.b = eb.vec_id),
        |directed AS (
        |  SELECT a AS q, b AS n, cos FROM scored
        |  UNION ALL
        |  SELECT b AS q, a AS n, cos FROM scored),
        |best AS (
        |  SELECT q, n, cos FROM directed
        |  QUALIFY row_number()
        |    OVER (PARTITION BY q ORDER BY cos DESC, n) = 1)
        |SELECT x.q AS vec_a, x.n AS vec_b, x.cos AS cos
        |FROM best x JOIN best y
        |  ON x.q = y.n AND x.n = y.q AND x.q < x.n
        |ORDER BY vec_a""".stripMargin,
    // the prefix rank is restated as the corpus-wide better-count the
    // engine's broadcast aggregate equals; the self row never counts
    // (s.vec_id < t.vec_id is false at equality with itself)
    "q220_matryoshka_audit" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id,
        |    ${rnd("list_cosine_similarity(v, qv)")} AS cf,
        |    ${rnd("list_cosine_similarity(v[1:16], qv[1:16])")} AS cp
        |  FROM e, q WHERE vec_id <> 0),
        |t AS (
        |  SELECT vec_id, cf, cp,
        |    CAST(row_number() OVER (ORDER BY cf DESC, vec_id) AS BIGINT)
        |      AS rank_full
        |  FROM s QUALIFY rank_full <= 20),
        |r AS (
        |  SELECT t.vec_id,
        |    CAST(1 + count(*) FILTER (WHERE s.cp > t.cp
        |      OR (s.cp = t.cp AND s.vec_id < t.vec_id)) AS BIGINT)
        |      AS rank_p16
        |  FROM t, s GROUP BY t.vec_id)
        |SELECT t.vec_id AS doc_id, t.cf AS cos_full, t.cp AS cos_p16,
        |  t.rank_full, r.rank_p16,
        |  r.rank_p16 - t.rank_full AS displacement
        |FROM t JOIN r USING (vec_id)
        |ORDER BY t.rank_full""".stripMargin,
    // the image-side vector is CONSTRUCTED as a list (list_transform)
    // exactly like the engine's zip_with and only then fed to the
    // shared cosine — no algebraic expansion, so every double is
    // bit-identical; the pixel CTEs replay the bitmap fixture's
    // closed form (byte i of doc d = (d·31 + i) mod 251 over
    // L = w·h·3 bytes) through the SAME integer block lattice
    // ⌊i·64/L⌋, zero-filling blocks past short payloads, while the
    // engine derived u and b from REAL decoded BMP bytes — one wrong
    // pixel anywhere moves a landmark and the hash fails; both
    // better-counts restate the q220 broadcast aggregate (the self
    // row never counts: strict > at equality with itself is false,
    // and the id tie-break excludes c_id = q_id)
    "q384_crossmodal_retrieval" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |f AS (SELECT v AS vf FROM e ORDER BY vec_id LIMIT 1),
        |nx AS (SELECT vec_id - 1 AS vec_id, v AS vn FROM e),
        |pxd AS (SELECT vec_id AS id,
        |  (vec_id % 62 + 2) * (vec_id % 46 + 2) * 3 AS L FROM e),
        |pxi AS (SELECT id, L, unnest(generate_series(0, L - 1)) AS i
        |  FROM pxd),
        |pb0 AS (SELECT id, (i * ${Dim}) // L AS k,
        |  sum((id * 31 + i) % 251 - 125) AS fk FROM pxi GROUP BY 1, 2),
        |ks AS (SELECT id, unnest(generate_series(0, ${Dim - 1})) AS k
        |  FROM pxd),
        |pb AS (SELECT ks.id, ks.k,
        |  CAST(coalesce(pb0.fk, 0) AS BIGINT) AS fk
        |  FROM ks LEFT JOIN pb0 ON ks.id = pb0.id AND ks.k = pb0.k),
        |pn AS (SELECT id, sqrt(CAST(sum(fk * fk) AS DOUBLE)) AS nrm
        |  FROM pb GROUP BY 1),
        |pu AS (SELECT pb.id, list(CAST(fk AS DOUBLE) / nrm ORDER BY k)
        |  AS u FROM pb JOIN pn USING (id) GROUP BY pb.id),
        |ps AS (SELECT id,
        |  CAST(sum((id * 31 + i) % 251) % 7 + 1 AS DOUBLE) AS b
        |  FROM pxi GROUP BY 1),
        |img AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, ${Dim + 1}),
        |      i -> 3 * e.v[i] + ps.b * coalesce(nx.vn, f.vf)[i] +
        |        0.25 * pu.u[i]) AS w
        |  FROM e LEFT JOIN nx ON e.vec_id = nx.vec_id
        |    JOIN pu ON e.vec_id = pu.id
        |    JOIN ps ON e.vec_id = ps.id, f),
        |qt AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
        |qi AS (SELECT vec_id AS q_id, w AS qw FROM img
        |  WHERE vec_id < 20),
        |t2i AS (
        |  SELECT q.q_id, img.vec_id AS c_id,
        |    ${rnd("list_cosine_similarity(q.qv, img.w)")} AS cos
        |  FROM img, qt q),
        |ownt AS (SELECT q_id, cos AS own_cos FROM t2i WHERE q_id = c_id),
        |rt AS (
        |  SELECT t.q_id,
        |    CAST(1 + count(*) FILTER (WHERE s.cos > t.own_cos
        |      OR (s.cos = t.own_cos AND s.c_id < t.q_id)) AS BIGINT)
        |      AS rank_t2i
        |  FROM ownt t JOIN t2i s USING (q_id) GROUP BY t.q_id),
        |i2t AS (
        |  SELECT q.q_id, e.vec_id AS c_id,
        |    ${rnd("list_cosine_similarity(e.v, q.qw)")} AS cos
        |  FROM e, qi q),
        |owni AS (SELECT q_id, cos AS own_cos FROM i2t WHERE q_id = c_id),
        |ri AS (
        |  SELECT t.q_id,
        |    CAST(1 + count(*) FILTER (WHERE s.cos > t.own_cos
        |      OR (s.cos = t.own_cos AND s.c_id < t.q_id)) AS BIGINT)
        |      AS rank_i2t
        |  FROM owni t JOIN i2t s USING (q_id) GROUP BY t.q_id)
        |SELECT t.q_id AS vec_id, t.own_cos AS cos_pair,
        |  rt.rank_t2i, ri.rank_i2t
        |FROM ownt t JOIN rt USING (q_id) JOIN ri USING (q_id)
        |ORDER BY vec_id""".stripMargin,
    "q202_embedding_audit" ->
      """WITH per AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(len(list_filter(embedding, x -> x <> 0)) = 0 AS BIGINT)
        |      AS zero_norm,
        |    CAST(len(list_filter(embedding,
        |      x -> isnan(x) OR isinf(x))) > 0 AS BIGINT) AS nonfinite,
        |    CAST(count(*) OVER (PARTITION BY embedding) > 1 AS BIGINT)
        |      AS dup
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(zero_norm) AS BIGINT) AS n_zero_norm,
        |  CAST(sum(nonfinite) AS BIGINT) AS n_nonfinite,
        |  CAST(sum(dup) AS BIGINT) AS n_dup_vecs
        |FROM per GROUP BY label ORDER BY label""".stripMargin,
    // same two arms, same integer-division RRF; QUALIFY is the oracle's
    // spelling of the engine side's bounded TakeOrdered top-100
    "q194_hybrid_rrf" ->
      s"""WITH ${TextQueries.bm25Ctes},
        |lex AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id)
        |      AS BIGINT) AS rank_lex
        |  FROM bm25 WHERE bm25_e6 > 0
        |  QUALIFY rank_lex <= 100),
        |e AS (SELECT vec_id,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
        |vec0 AS (
        |  SELECT e.vec_id AS doc_id,
        |    ${rnd("list_cosine_similarity(e.v, qv.qvec)")} AS cos
        |  FROM e, qv WHERE e.vec_id <> 0),
        |vec AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
        |      AS BIGINT) AS rank_vec
        |  FROM vec0 QUALIFY rank_vec <= 100)
        |SELECT doc_id,
        |  coalesce(lex.rank_lex, 0) AS rank_lex,
        |  coalesce(vec.rank_vec, 0) AS rank_vec,
        |  -- base columns qualified (lex./vec.) so the output aliases of
        |  -- this SELECT can never shadow them: an absent arm must
        |  -- contribute 0 to the fusion, not 1e6/60 (round-9 advice)
        |  CAST(coalesce(1000000 // (60 + lex.rank_lex), 0) +
        |       coalesce(1000000 // (60 + vec.rank_vec), 0) AS BIGINT)
        |    AS rrf_e6
        |FROM lex FULL OUTER JOIN vec USING (doc_id)
        |ORDER BY rrf_e6 DESC, doc_id LIMIT 50""".stripMargin,
    "q50_knn_cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q_id, vec_id, ${rnd("list_cosine_similarity(v, qv)")} AS cos
        |  FROM e, q WHERE vec_id <> q_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS knn_rank
        |  FROM scored)
        |SELECT q_id, vec_id, cos, knn_rank FROM ranked
        |WHERE knn_rank <= 10 ORDER BY q_id, knn_rank""".stripMargin,
    // The oracle re-derives the SAME md5-seeded hyperplanes in SQL
    // (Lsh.signatureSqlCtes): both engines compute
    // signed_int32(md5('graft-lsh:h:j')) / 2^31-1 — exact integer inputs,
    // one correctly-rounded division — so the planes, signatures, buckets,
    // and therefore the candidate sets match bit-for-bit.
    "q51_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |${Lsh.signatureSqlCtes(Bands * Rows, Dim)},
        |${Lsh.bandsSqlCte(Bands, Rows)},
        |qb AS (SELECT vec_id AS q_id, band, bkey FROM bands WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT qb.q_id, bands.vec_id
        |  FROM bands JOIN qb ON bands.band = qb.band AND bands.bkey = qb.bkey
        |  WHERE bands.vec_id <> qb.q_id),
        |scored AS (
        |  SELECT c.q_id, c.vec_id,
        |    ${rnd("list_cosine_similarity(ev.v, qv.v)")} AS cos
        |  FROM cand c
        |  JOIN e ev ON c.vec_id = ev.vec_id
        |  JOIN e qv ON c.q_id = qv.vec_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS knn_rank
        |  FROM scored)
        |SELECT q_id, vec_id, cos, knn_rank FROM ranked
        |WHERE knn_rank <= 10 ORDER BY q_id, knn_rank""".stripMargin,
    "q56_knn_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  ${Ivf.centroidsSql(CentRate, CentCap)}),
        |assigned AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, cent.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${rnd("list_cosine_similarity(e.v, cent.cv)")} DESC,
        |          cent.c_id) AS rn
        |    FROM e, cent)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, cent.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY ${rnd("list_cosine_similarity(q.qv, cent.cv)")} DESC,
        |          cent.c_id) AS rn
        |    FROM q, cent)
        |  WHERE rn <= $NProbe),
        |ranked AS (
        |  SELECT q_id, vec_id,
        |    ${rnd("list_cosine_similarity(a.v, p.qv)")} AS cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY ${rnd("list_cosine_similarity(a.v, p.qv)")} DESC, vec_id)
        |      AS BIGINT) AS ivf_rank
        |  FROM assigned a JOIN probes p USING (c_id)
        |  WHERE a.vec_id <> p.q_id)
        |SELECT q_id, vec_id, cos, ivf_rank
        |FROM ranked WHERE ivf_rank <= 10 ORDER BY q_id, ivf_rank""".stripMargin,
    // same scale/code/clamp arithmetic; the code is re-derived inside the
    // error lambda (DuckDB has no two-list zip_with) but evaluates to the
    // identical double, so the comparison is bit-equal
    "q91_sq8_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS n_dims,
        |  CAST(CASE WHEN scale = 0.0 THEN 0 ELSE
        |    list_sum(list_transform(v, x ->
        |      greatest(-127.0, least(127.0, floor(x / scale + 0.5)))))
        |    END AS BIGINT) AS code_sum,
        |  CAST(CASE WHEN scale = 0.0 THEN 0 ELSE
        |    list_sum(list_transform(v, x ->
        |      abs(greatest(-127.0, least(127.0, floor(x / scale + 0.5))))))
        |    END AS BIGINT) AS code_l1,
        |  CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_e9,
        |  CASE WHEN scale = 0.0 THEN true ELSE
        |    list_max(list_transform(v, x ->
        |      abs(x - greatest(-127.0, least(127.0, floor(x / scale + 0.5)))
        |        * scale))) <= scale * 0.5 + 1e-12 END AS within_bound
        |FROM m ORDER BY vec_id""".stripMargin,
    // the same Gram cells from the same e6 grid; HUGEINT traces
    "q288_effective_dim" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH e0 AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e1 AS (
        |  SELECT *, sqrt(list_aggregate(
        |    list_transform(v, x -> x * x), 'sum')) AS nrm
        |  FROM e0),
        |e AS (
        |  SELECT list_transform(v, x ->
        |    CAST(floor(x * 1000000.0 / nrm + 0.5) AS BIGINT)) AS vh
        |  FROM e1 WHERE nrm > 0),
        |cells AS (
        |  SELECT i, j,
        |    CAST(sum(CAST(vh[i] AS HUGEINT) * vh[j]) AS HUGEINT) AS m
        |  FROM e,
        |    (SELECT unnest(generate_series(1, 64)) AS i),
        |    (SELECT unnest(generate_series(1, 64)) AS j)
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT
        |    CAST(sum(CASE WHEN i = j THEN m ELSE 0 END) AS HUGEINT)
        |      AS tr_m,
        |    CAST(sum(m * m) AS HUGEINT) AS tr_m2
        |  FROM cells),
        |nn AS (SELECT count(*) AS n_vecs FROM e)
        |SELECT n_vecs,
        |  ${intDivExactSql("tr_m * tr_m * 20000 + tr_m2", "2 * tr_m2")}
        |    AS pr_e4
        |FROM t, nn""".stripMargin
    },
    // the same sum-vector identity; in-order list folds, the shared e6
    // grid, HUGEINT squares
    "q286_alignment" -> {
      import graft.functions.Rounding.intDivExactSql
      val align = intDivExactSql(
        "s2 - q", "n * (n - 1) * 1000000")
      s"""WITH e0 AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |e1 AS (
        |  SELECT *, sqrt(list_aggregate(
        |    list_transform(v, x -> x * x), 'sum')) AS nrm
        |  FROM e0),
        |e AS (
        |  SELECT label,
        |    list_transform(v, x ->
        |      CAST(floor(x * 1000000.0 / nrm + 0.5) AS BIGINT)) AS vh
        |  FROM e1 WHERE nrm > 0),
        |pd AS (
        |  SELECT label, i AS pos, vh[i] AS x
        |  FROM e, (SELECT unnest(generate_series(1, 64)) AS i)),
        |s2t AS (
        |  SELECT label,
        |    CAST(sum(CAST(sd AS HUGEINT) * sd) AS HUGEINT) AS s2
        |  FROM (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sd
        |        FROM pd GROUP BY 1, 2)
        |  GROUP BY label),
        |qn AS (
        |  SELECT label,
        |    CAST(sum(list_aggregate(
        |      list_transform(vh, x -> x * x), 'sum')) AS HUGEINT) AS q,
        |    count(*) AS n
        |  FROM e GROUP BY label)
        |SELECT qn.label, n AS n_vecs, $align AS align_e6
        |FROM qn JOIN s2t ON qn.label = s2t.label
        |WHERE n >= 2
        |ORDER BY qn.label""".stripMargin
    },
    // q118's replayed Lloyd assignment + the label join and min-struct
    // majority; purity is the exact e4 rational
    "q280_cluster_purity" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH ${graft.operators.KMeans.oracleSqlCtes(
             "embeddings", "vec_id", "embedding", Dim, 8, 2)},
         |cells AS (
         |  SELECT a.cid, CAST(e.label AS BIGINT) AS label, count(*) AS n
         |  FROM afinal a JOIN embeddings e ON a.vid = e.vec_id
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT cid, CAST(sum(n) AS BIGINT) AS n_members
         |  FROM cells GROUP BY cid),
         |maj AS (
         |  SELECT cid, min(struct_pack(nn := -n, l := label)) AS m
         |  FROM cells GROUP BY cid)
         |SELECT tot.cid, n_members, (m).l AS majority_label,
         |  CAST(-((m).nn) AS BIGINT) AS n_majority
         |  , ${intDivExactSql(
               "CAST(-((m).nn) AS HUGEINT) * 20000 + n_members",
               "2 * n_members")} AS purity_e4
         |FROM tot JOIN maj ON tot.cid = maj.cid
         |ORDER BY tot.cid""".stripMargin
    },
    "q118_kmeans" ->
      s"""WITH ${graft.operators.KMeans.oracleSqlCtes(
             "embeddings", "vec_id", "embedding", Dim, 8, 2)},
         |members AS (
         |  SELECT cid, count(*) AS n_members, CAST(sum(d) AS BIGINT)
         |    AS inertia_q
         |  FROM afinal GROUP BY cid),
         |cstats AS (
         |  SELECT cid, CAST(sum(abs(cq)) AS BIGINT) AS sum_abs_centroid_q
         |  FROM c2 GROUP BY cid)
         |SELECT cid, n_members, sum_abs_centroid_q, inertia_q
         |FROM members JOIN cstats USING (cid)
         |ORDER BY cid""".stripMargin,
    // four independent codebooks = four prefixed KMeans CTE sets over
    // sliced subvectors; the code row joins their final assignments
    "q149_pq_codes" -> {
      val m = 4
      val sub = Dim / m
      val ctes = (0 until m).map { j =>
        graft.operators.KMeans.oracleSqlCtes(
          "embeddings", "vec_id",
          s"embedding[${j * sub + 1}:${j * sub + sub}]",
          sub, 8, 2, prefix = s"p${j}_")
      }.mkString(",\n")
      s"""WITH $ctes
         |SELECT p0.vid AS vec_id,
         |  p0.cid AS code_0, p1.cid AS code_1,
         |  p2.cid AS code_2, p3.cid AS code_3,
         |  CAST(p0.d + p1.d + p2.d + p3.d AS BIGINT) AS qerr_q
         |FROM p0_afinal p0
         |JOIN p1_afinal p1 USING (vid)
         |JOIN p2_afinal p2 USING (vid)
         |JOIN p3_afinal p3 USING (vid)
         |ORDER BY vec_id""".stripMargin
    },
    "q161_adc_scan" -> {
      val m = 4
      val sub = Dim / m
      val ctes = (0 until m).map { j =>
        graft.operators.KMeans.oracleSqlCtes(
          "embeddings", "vec_id",
          s"embedding[${j * sub + 1}:${j * sub + sub}]",
          sub, 8, 2, prefix = s"p${j}_")
      }.mkString(",\n")
      val dtCtes = (0 until m).map { j =>
        s"""dt$j AS (
           |  SELECT e.vid AS q_id, c.cid,
           |    sum((e.xq - c.cq) * (e.xq - c.cq)) AS d
           |  FROM p${j}_e e JOIN p${j}_c2 c USING (pos)
           |  WHERE e.vid < 5 GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ctes,
         |$dtCtes,
         |codes AS (
         |  SELECT p0.vid, p0.cid AS c0, p1.cid AS c1,
         |    p2.cid AS c2, p3.cid AS c3
         |  FROM p0_afinal p0
         |  JOIN p1_afinal p1 USING (vid)
         |  JOIN p2_afinal p2 USING (vid)
         |  JOIN p3_afinal p3 USING (vid)),
         |scored AS (
         |  SELECT d0.q_id, codes.vid AS vec_id,
         |    CAST(d0.d + d1.d + d2.d + d3.d AS BIGINT) AS adc
         |  FROM codes
         |  JOIN dt0 d0 ON d0.cid = codes.c0
         |  JOIN dt1 d1 ON d1.q_id = d0.q_id AND d1.cid = codes.c1
         |  JOIN dt2 d2 ON d2.q_id = d0.q_id AND d2.cid = codes.c2
         |  JOIN dt3 d3 ON d3.q_id = d0.q_id AND d3.cid = codes.c3
         |  WHERE codes.vid <> d0.q_id)
         |SELECT q_id, vec_id, adc,
         |  adc_rank
         |FROM (
         |  SELECT q_id, vec_id, adc,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc, vec_id) AS BIGINT) AS adc_rank
         |  FROM scored)
         |WHERE adc_rank <= 10
         |ORDER BY q_id, adc_rank""".stripMargin
    },
    "q150_semdedup" ->
      s"""WITH ${graft.operators.KMeans.oracleSqlCtes(
             "embeddings", "vec_id", "embedding", Dim, 8, 2)},
         |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings),
         |m AS (
         |  SELECT a.vid, a.cid, a.d, vv.v
         |  FROM afinal a JOIN vv ON vv.vec_id = a.vid),
         |drops AS (
         |  SELECT DISTINCT y.vid FROM m x JOIN m y
         |    ON x.cid = y.cid AND x.vid < y.vid
         |  WHERE ${rnd("list_cosine_similarity(x.v, y.v)")} >= 0.45)
         |SELECT m.vid AS vec_id, m.cid,
         |  CAST(row_number() OVER (PARTITION BY m.cid
         |    ORDER BY m.d, m.vid) AS BIGINT) AS proto_rank,
         |  CAST(CASE WHEN dr.vid IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS is_dropped
         |FROM m LEFT JOIN drops dr ON m.vid = dr.vid
         |ORDER BY vec_id""".stripMargin)
}
