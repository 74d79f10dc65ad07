package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.operators.CheckpointBlocks.checkpoint

/** Deterministic distributed k-means (Lloyd's algorithm) over an embedding
  * column, in integer fixed-point — every centroid, assignment, and
  * inertia value is bit-identical across runs, partitionings, and engines.
  *
  * Floating-point Lloyd's is nondeterministic on a cluster (centroid means
  * depend on float summation order) and unportable across engines (FMA,
  * cast paths). Here every vector quantizes once to `round(x · scale)`
  * int64 components; distances are exact integer Σ(Δ²); centroid updates
  * are exact integer sums + one truncated division (both engines'
  * `%` is dividend-signed, so `(s - s % n) / n` truncates toward zero
  * identically — the [[graft.functions.Rounding.intDiv]] argument extended
  * to signed sums). Ties in assignment break on centroid id. The result is
  * a pure function of (data, k, iters, scale) — reproducible training-data
  * clustering, auditable across re-runs (the q97 fixed-point-PageRank
  * discipline applied to vector quantization's training loop).
  *
  * Scale shape, per round:
  *  - assignment is a broadcast of ≤ k centroid rows against the vector
  *    table — a bounded crossJoin (the q50/q56 pattern), never a shuffle
  *    of the big side; the per-pair distance is one codegen'd
  *    `aggregate(zip_with(...))` over the two int arrays;
  *  - the centroid update is ONE exchange: `dim` column-wise `sum()`
  *    aggregates (map-side combined — the shuffle carries k·dim longs per
  *    task, not rows), no per-dimension explode;
  *  - each round's centroid table is localCheckpoint'd: k·dim longs, so
  *    round plans stay flat (the q108/q113 lineage discipline).
  *
  * Seeds are the k vectors with the smallest md5(id) — a deterministic
  * uniform sample planned as a bounded TakeOrdered heap (the [[Ivf]]
  * hash-sampling argument), never a global sort. Clusters that lose all
  * members simply vanish from the groupBy (standard Lloyd shrink) — also
  * deterministic. Empty input yields empty output.
  */
object KMeans {

  /** Quantize a float/double array column to int64 at `scale` (exact
    * widening casts; `floor(x · scale + 0.5)` is the engine-shared round —
    * see [[graft.functions.Rounding]]). */
  def quantize(vec: Column, scale: Double): Column =
    transform(vec, x =>
      floor(x.cast("double") * lit(scale) + lit(0.5)).cast("long"))

  /** Exact integer squared L2 distance between two int64 array columns. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, d) => acc + d)

  /** Run `iters` Lloyd rounds. `vectors` must expose an integral id
    * `idCol` and an array-typed `vecCol` with `dim` components.
    * Returns (centroids, assignment):
    *  - centroids: (cid, cq: array<long>) — cid is the seed vector's id;
    *  - assignment: (vid, cid, dist) — each vector's final centroid and
    *    exact integer squared distance.
    * Both are small/streamable; assignment is lazy (re-evaluates against
    * the checkpointed final centroids). */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int,
      scale: Double = 1000000.0): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0 && dim > 0, "k, iters, dim must be positive")
    val vq = vectors
      .select(col(idCol).cast("long").as("vid"),
        quantize(col(vecCol), scale).as("vq"))
      .transform(checkpoint)
    var cents = vq
      .orderBy(Hashing.md5U32(col("vid").cast("string")).asc, col("vid").asc)
      .limit(k)
      .select(col("vid").as("cid"), col("vq").as("cq"))
      .transform(checkpoint)
    for (_ <- 1 to iters) {
      val assigned = assign(vq, cents)
      // decimal(38,0) accumulator: with 1e6-scale quantization a cluster's
      // component sum passes 2^53 around ~1e9 members and 2^63 around
      // ~1e12 — plain sum(long) would wrap silently (ANSI off) while the
      // oracle's HUGEINT sum stays exact, breaking bit-reproducibility at
      // exactly the scale this operator claims; decimal sums are exact to
      // 10^38 in Spark and mirror DuckDB's HUGEINT
      val sums = (0 until dim).map(i =>
        sum(element_at(col("vq"), i + 1).cast("decimal(38,0)"))
          .as(s"__s$i"))
      val centroid = array((0 until dim).map { i =>
        val s = col(s"__s$i")
        val n = col("__n").cast("decimal(38,0)")
        // truncated-toward-zero exact division at any magnitude: % is
        // dividend-signed on decimals in both engines, (s - s % n) is an
        // exact multiple, and Spark's decimal division of an exact
        // multiple is exact (the intDivExact construction; the oracle
        // mirrors it with HUGEINT `//`, which truncates identically)
        ((s - (s % n)) / n).cast("long")
      }: _*)
      cents = assigned.join(vq, "vid")
        .groupBy("cid")
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("cid"), centroid.as("cq"))
        .transform(checkpoint)
    }
    (cents, assign(vq, cents))
  }

  /** Nearest centroid per vector: bounded broadcast crossJoin + exact
    * integer argmin with (dist, cid) tie-break. */
  private def assign(vq: DataFrame, cents: DataFrame): DataFrame =
    vq.crossJoin(broadcast(cents))
      .select(col("vid"), col("cid"), sqDist(col("vq"), col("cq")).as("dist"))
      .groupBy("vid")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vid"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** DuckDB mirror of [[fit]] as a WITH-clause body (no leading `WITH`):
    * CTEs `e` (exploded quantized vectors: vid, pos, xq), `c0..c<iters>`
    * (per-round centroids: cid, pos, cq), `a1..a<iters>` (per-round
    * assignments), and `afinal` (vid, cid, d against `c<iters>`). Exact
    * integer arithmetic end-to-end, so every round matches the Spark side
    * bit-for-bit; the caller's query selects from `afinal`/`c<iters>`.
    * Unrolled per round — the q97-PageRank oracle pattern: an oracle may
    * scan k× for clarity, the engine side must not. */
  def oracleSqlCtes(table: String, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int, scale: String = "1000000.0",
      prefix: String = ""): String = {
    val p = prefix
    val seedHash = Hashing.md5U32Sql("CAST(vid AS VARCHAR)")
    def assignCte(r: Int, c: String): String =
      s"""${p}a$r AS (
         |  SELECT vid, cid, d FROM (
         |    SELECT e.vid, c.cid, sum((e.xq - c.cq) * (e.xq - c.cq)) AS d,
         |      row_number() OVER (PARTITION BY e.vid
         |        ORDER BY sum((e.xq - c.cq) * (e.xq - c.cq)), c.cid) AS rn
         |    FROM ${p}e e JOIN $c c USING (pos) GROUP BY e.vid, c.cid)
         |  WHERE rn = 1)""".stripMargin
    def centroidCte(r: Int): String =
      // HUGEINT // : 128-bit exact, truncates toward zero exactly like
      // the Spark side's decimal (s - s % n) / n — NOT the old
      // (sum - sum % n) / n form, whose DOUBLE division re-opens the
      // 2^53 ceiling in DuckDB (see Rounding.intDivExactSql)
      s"""${p}c$r AS (
         |  SELECT a.cid, e.pos,
         |    CAST(CAST(sum(e.xq) AS HUGEINT) // CAST(count(*) AS HUGEINT)
         |      AS BIGINT) AS cq
         |  FROM ${p}a$r a JOIN ${p}e e USING (vid)
         |  GROUP BY a.cid, e.pos)""".stripMargin
    val rounds = (1 to iters).flatMap { r =>
      Seq(assignCte(r, s"${p}c${r - 1}"), centroidCte(r))
    }
    val parts = Seq(
      s"""${p}e AS (
         |  SELECT CAST($idCol AS BIGINT) AS vid, i AS pos,
         |    CAST(floor(CAST($vecCol[CAST(i AS INT)] AS DOUBLE) * $scale + 0.5)
         |      AS BIGINT) AS xq
         |  FROM $table, unnest(generate_series(1, $dim)) AS g(i))""".stripMargin,
      s"""${p}c0 AS (
         |  SELECT vid AS cid, pos, xq AS cq FROM ${p}e WHERE vid IN (
         |    SELECT vid FROM (SELECT DISTINCT vid FROM ${p}e) s
         |    ORDER BY $seedHash, vid LIMIT $k))""".stripMargin) ++
      rounds :+
      assignCte(iters + 1, s"${p}c$iters")
        .replaceFirst(s"${p}a${iters + 1} AS", s"${p}afinal AS")
    parts.mkString(",\n")
  }
}
