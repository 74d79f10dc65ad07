package graft.queries

import graft.{SparkEntry, SparkSuite}
import graft.operators.Lsh
import graft.operators.SessionDirMemo.rawChain

/** The band-geometry tuning MECHANISM (r17 verdict item 2): q378's
  * measured sf~1 occupancy tail (1.46 at fixed 32×4) was adjudicated as
  * "production re-tunes band bits as the corpus grows" — these tests pin
  * that the adjudication is now code, not prose: [[Lsh.tunedGeometry]]
  * is the sizing rule, q380's `chosen` column IS that rule (so the rule
  * is oracle-checked through the declared query), the rule's trade is
  * MEASURED by q380's candidate/recall columns, and
  * [[SimilarityQueries.lshScoredPairs]] — q378's candidate substrate —
  * actually consumes the re-tuned geometry through the
  * `spark.graft.lsh.*` deployment conf (the path the scaling sweep's
  * tuned sf~1 row runs). */
class LshTuningSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def table(dir: String) =
    SparkEntry.queries("q380_lsh_geometry")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rows_per_band"))

  test("q380's chosen row IS Lsh.tunedGeometry's pick — the sizing rule " +
    "is oracle-checked through the declared query") {
    val t = table(sf)
    val chosen = t.filter(_.getAs[Long]("chosen") == 1L)
    assert(chosen.length == 1,
      s"exactly one geometry must be chosen, got ${chosen.length}")
    val n = t.head.getAs[Long]("n_vectors")
    val g = Lsh.tunedGeometry(n)
    assert(g.rowsPerBand.toLong == chosen.head.getAs[Long]("rows_per_band")
        && g.bands.toLong == chosen.head.getAs[Long]("bands"),
      s"tunedGeometry($n) = $g but q380 chose " +
        s"${chosen.head.getAs[Long]("bands")}×" +
        s"${chosen.head.getAs[Long]("rows_per_band")}")
  }

  test("tunedGeometry widens bands monotonically with corpus size at a " +
    "constant 128-bit signature; defaults hold at every driver scale " +
    "and the sweep's sf~1 size re-tunes to 16×8") {
    // driver scales (500 / 2000 vectors): the rule RETURNS the default —
    // the declared queries' oracle contract and the rule agree by
    // construction, not by luck
    assert(Lsh.tunedGeometry(500L) == Lsh.BandGeometry(32, 4))
    assert(Lsh.tunedGeometry(2000L) == Lsh.BandGeometry(32, 4))
    // boundary: expected load 512 at 2^4 buckets
    assert(Lsh.tunedGeometry(512L * 16) == Lsh.BandGeometry(32, 4))
    assert(Lsh.tunedGeometry(512L * 16 + 1) == Lsh.BandGeometry(16, 8))
    // the synthesized sf~1 sweep corpus (20k vectors)
    assert(Lsh.tunedGeometry(20000L) == Lsh.BandGeometry(16, 8))
    assert(Lsh.tunedGeometry(512L * 256 + 1) == Lsh.BandGeometry(8, 16))
    // past every threshold: the widest band is the honest fallback
    // (occupancy then needs more total bits, not more re-segmentation)
    assert(Lsh.tunedGeometry(1000000000L) == Lsh.BandGeometry(8, 16))
    val sizes = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L)
    val rs = sizes.map(Lsh.tunedGeometry(_).rowsPerBand)
    assert(rs == rs.sorted, s"rows-per-band must be monotone in N: $rs")
    assert(sizes.forall(Lsh.tunedGeometry(_).totalBits == 128),
      "re-tuning must re-segment the same 128 signature bits")
  }

  test("q380 measures the occupancy trade the rule manages: each " +
    "widening prunes candidates ≥ 4× while the default arm keeps " +
    "near-full recall at this corpus's truth threshold") {
    val t = table(sf)
    val cand = t.map(_.getAs[Long]("n_cand"))
    assert(cand(0) >= 4 * cand(1) && cand(1) >= 4 * cand(2),
      s"candidate volume must fall ≥ 4× per widening: ${cand.toSeq}")
    assert(t(0).getAs[Long]("recall_e4") >= 9000L,
      s"32×4 recall ${t(0).getAs[Long]("recall_e4")} < 0.9 — the " +
        "default arm is sized for this corpus's weak-similarity regime")
    // and the trade is real: wider bands are cheaper AND blinder here —
    // the table exists precisely because no single geometry wins both
    val rec = t.map(_.getAs[Long]("recall_e4"))
    assert(rec(0) > rec(1) && rec(1) > rec(2),
      s"recall must fall with band width at a fixed threshold: ${rec.toSeq}")
  }

  test("lshScoredPairs consumes the deployment geometry conf: the tuned " +
    "substrate's pair count equals q380's measured arm") {
    val want = table(sf).find(_.getAs[Long]("rows_per_band") == 8L)
      .get.getAs[Long]("n_cand")
    spark.conf.set("spark.graft.lsh.bands", "16")
    spark.conf.set("spark.graft.lsh.rowsPerBand", "8")
    try {
      // rawChain: lazy build, no memo entry — the conf knob is
      // a deployment-scoped setting (one geometry per session, like the
      // sweep's tuned run); the memo key carries the geometry so even a
      // mixed-session consumer can never be served the wrong build
      val got = rawChain(SimilarityQueries
        .lshScoredPairs(spark, sf)).count()
      assert(got == want,
        s"tuned lshScoredPairs built $got pairs; q380's 16×8 arm " +
          s"measured $want")
    } finally {
      spark.conf.unset("spark.graft.lsh.bands")
      spark.conf.unset("spark.graft.lsh.rowsPerBand")
    }
  }

  test("a misconfigured geometry fails FAST (ADVICE r18): bands = 0 " +
    "would silently empty the candidate substrate, and a pair whose " +
    "product != 128 would switch hyperplane families and void q380's " +
    "certified recall") {
    for ((b, r) <- Seq(("0", "4"), ("-16", "8"), ("16", "4"), ("64", "4"))) {
      spark.conf.set("spark.graft.lsh.bands", b)
      spark.conf.set("spark.graft.lsh.rowsPerBand", r)
      try intercept[IllegalArgumentException] {
        rawChain(SimilarityQueries.lshScoredPairs(spark, sf))
      } finally {
        spark.conf.unset("spark.graft.lsh.bands")
        spark.conf.unset("spark.graft.lsh.rowsPerBand")
      }
    }
  }
}
