package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.Rounding
import graft.operators.SessionDirMemo.pin
import graft.operators.CheckpointBlocks.checkpoint

/** Time-series completion and reshaping operators the reference's
  * stock-bars domain implies but never implements (the pandas twin would be
  * `df.resample(...).ffill()` / `df.melt(...)`): calendar gap-fill with
  * forward fill, unpivot to long form, robust outlier flagging via MAD,
  * triangle counting on a co-occurrence graph, and an SCD2
  * dimension build + point-in-time lookup.
  *
  * All outputs are integer cents / BIGINT counts — no DOUBLE column leaves
  * any query here, so no engine's FMA/cast/hash treatment of floats is in
  * the correctness loop (the q73/q74 lesson).
  */
object TemporalQueries extends QueryPack {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
  private def li(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")

  /** Calendar gap-fill + forward fill: per event_type, the daily
    * last-observed value carried forward across days with no events.
    * Shape: one row_number window picks the day's closing value (ts,
    * event_id tie-break — deterministic), `sequence()` builds each type's
    * own day grid (no cross join against a global calendar), and one
    * ordered window does last-non-null carry-forward. At 100 TB the grid
    * explode is O(types × days) — tiny next to the data — and the fill is
    * one partition-local window pass per type. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
    val wDay = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val obs = e.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select("event_type", "day", "cents")
    val grid = obs.groupBy("event_type")
      .agg(min("day").as("dmin"), max("day").as("dmax"))
      .select(col("event_type"),
        explode(expr("sequence(dmin, dmax, interval 1 day)")).as("day"))
    val wFill = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "day"), "left")
      .withColumn("filled_cents", last("cents", ignoreNulls = true).over(wFill))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("filled_cents"),
        col("cents").isNotNull.cast("long").as("observed"))
      .orderBy("event_type", "day")
  }

  /** Unpivot / melt (pandas `df.melt`, SQL UNPIVOT): lineitem's four
    * money/quantity measures to long form, one row per (key, metric).
    * Uses the Dataset.unpivot API — Catalyst expands it to a generator,
    * no shuffle at all; the values are pre-scaled to integer cents so the
    * long `vals` column has one exact type. */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val base = li(s, dir)
      .filter(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        Rounding.cents(col("l_quantity")).as("quantity"),
        Rounding.cents(col("l_extendedprice")).as("extendedprice"),
        Rounding.cents(col("l_discount")).as("discount"),
        Rounding.cents(col("l_tax")).as("tax"))
    base.unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount"),
          col("tax")),
        "metric", "cents")
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }

  /** Robust outliers via median absolute deviation, fully exact: the
    * median is BY POSITION (row_number vs count — element ⌈n/2⌉ of the
    * sorted multiset), not an engine `median()` builtin (engines disagree
    * on even-n interpolation), so both sides run the identical algorithm
    * on integer cents. Two window passes + two small joins; the medians
    * table is O(types) rows and broadcast. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_type"), col("event_id"),
      Rounding.cents(col("value")).as("cents"))
    def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type")
        .orderBy(col(valueCol), col("event_id"))
      val wAll = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = medianOf(e, "cents", "median_cents")
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cents") - col("median_cents")))
    val mad = medianOf(
      dev.select(col("event_type"), col("event_id"), col("adev")),
      "adev", "mad_cents")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(min("median_cents").as("median_cents"),
        min("mad_cents").as("mad_cents"),
        sum((col("adev") > lit(3) * col("mad_cents")).cast("long"))
          .as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Triangle count on the part co-order graph (edge = two parts bought
    * in the same order — naturally sparse: C(items-per-order, 2) pairs per
    * order over a huge part universe, unlike the supplier co-supply graph,
    * which is complete). Pair generation is df-capped at 40 parts/order so
    * one hot order cannot emit a quadratic pair blowup, and the closure is
    * DEGREE-ORDERED (each edge directed from the (deg, id)-smaller
    * endpoint; every triangle then has exactly one apex whose two
    * out-arcs form the wedge): total wedge work drops from
    * Σ deg(v)² to O(m^1.5) — the difference between this join finishing
    * and a wedge explosion on a skewed co-occurrence graph. Everything is
    * keyed equi-joins on node ids. */
  /** Build of the q108 graph stages — split out so PlanSpec can assert
    * the closure's join shapes (q108 itself computes its three counts
    * eagerly, so its returned plan is just the result row).
    *
    * The edge list is materialized once via an eager `localCheckpoint`
    * and deg/arcs derive from the MATERIALIZED frame.
    * This is the iterative-consumer contract: every downstream job reads
    * a 25k-row cached table behind a one-node plan, instead of each
    * consumer re-carrying (and Catalyst re-optimizing) the whole
    * scan→distinct→self-join→distinct build tree — the same
    * lineage-truncation discipline GraphX applies inside Pregel.
    * (`persist` alone caches DATA but leaves the logical plan growing,
    * which q113's rounds measured as per-round planning time: 0.9 s →
    * 1.5 s → 2.2 s before, flat ~0.3 s after.) Checkpoint blocks are
    * released by the ContextCleaner when the frames are collected; on a
    * cluster, executor loss costs a recompute of this one bounded stage.
    * Inside `SessionDirMemo.rawChain` the edges stay the lazy build. */
  /** Memo for the checkpointed co-order edge set (the expensive stage:
    * lineitem scan → per-order pair explode → distinct): SEVEN
    * standalone consumers (q108/q113/q119/q201/q215/q299/q309) each
    * rebuilt a bit-identical graph behind their own localCheckpoint.
    * Same contract as the dedup memos — deterministic build, eager
    * checkpoint, two-slot LRU retention (see SessionDirMemo). */
  private val coOrderMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def q108Stages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // One ship-year of co-orders: the graph stays non-trivially dense at
    // every SF while the edge volume scales linearly, not with the whole
    // history — the partition-pruning shape a real deployment would use
    // (triangle stats are computed per time slice, not over all time).
    val op = li(s, dir)
      .filter(year(col("l_shipdate")) === 1995)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("pt"))
      .distinct()
    val capped = op.groupBy("o").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 40)
    val pairs = op.join(capped.select("o"), "o")
    val edges0 = pairs.as("a")
      .join(pairs.withColumnRenamed("pt", "pt2").as("b"), "o")
      .filter(col("pt") < col("pt2"))
      .select(col("pt").as("u"), col("pt2").as("v"))
      .distinct()
    val edges = coOrderMemo.get(s, dir)(pin(edges0))
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val arcs = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
    (edges, deg, arcs)
  }

  /** Edge-iterator triangle count over directed arcs: Σ |N⁺(a) ∩ N⁺(b)|
    * per arc (a,b). The wedge set is never materialized or shuffled —
    * each arc meets two adjacency arrays whose length the degree ordering
    * bounds at O(√m), and the codegen'd array_intersect does the per-arc
    * work in one stage. */
  private[graft] def q108Closure(arcs: DataFrame): DataFrame = {
    val adj = arcs.groupBy("a")
      .agg(sort_array(collect_list("b")).as("nbrs"))
    arcs
      .join(adj.select(col("a").as("ja"), col("nbrs").as("na")),
        col("a") === col("ja"))
      .join(adj.select(col("a").as("jb"), col("nbrs").as("nb")),
        col("b") === col("jb"))
      .select(size(array_intersect(col("na"), col("nb"))).as("t"))
  }

  private def q108(s: SparkSession, dir: String): DataFrame = {
    // edges feeds four consumers (deg, arcs, the closure's adjacency
    // build, and its own count) — q108Stages materializes it once behind
    // a truncated plan; arcs feeds two (the closure joins it against its
    // own adjacency aggregation) and is truncated the same way.
    val (edges, deg, arcs0) = q108Stages(s, dir)
    val spark = s
    import spark.implicits._
    val arcs = checkpoint(arcs0)
    val tri = q108Closure(arcs)
    val nNodes = deg.count()
    val nEdges = edges.count()
    val nTriangles = tri.agg(sum("t")).as[Long].head()
    Seq((nNodes, nEdges, nTriangles)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** SCD2 dimension build + point-in-time lookup: each user's purchases
    * become versioned states `[valid_from, valid_to)` (lead() closes the
    * interval; the open tail is null), and each click resolves the state
    * valid at its timestamp. The intervals partition the timeline per
    * user, so the match is provably unique — the equi part of the join is
    * on user_id (normal keyed shuffle; the interval predicate is a
    * post-join filter, never a nested loop over users). Clicks before a
    * user's first purchase keep a null state (left join). */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val dim = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("d_user"), col("ts").as("valid_from"),
        col("event_id").as("d_eid"),
        Rounding.cents(col("value")).as("state_cents"))
      .withColumn("valid_to",
        lead("valid_from", 1).over(
          Window.partitionBy("d_user").orderBy(col("valid_from"),
            col("d_eid"))))
      .drop("d_eid")
    val probe = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    probe.join(dim,
        col("user_id") === col("d_user") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("state_cents"))
      .orderBy("event_id")
  }

  /** Cumulative distinct count — running number of distinct event_types
    * each user has touched, after every event. Exact and portable without
    * any engine `count(DISTINCT) OVER` support: flag the first occurrence
    * of each (user, type) with one row_number window, then running-sum the
    * flags. Two partition-local window passes, zero joins. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val wFirst = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("first_flag",
        (row_number().over(wFirst) === 1).cast("long"))
      .withColumn("cum_types", sum("first_flag").over(wRun))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("cum_types"))
      .orderBy("event_id")
  }

  /** OHLC bar resampling — the reference's literal domain (stock bars,
    * reference `scripts/stock_predictor.py:54-64` works on Open/High/Low/
    * Close columns) rebuilt from tick-level events: per (event_type,
    * hour), open = first value, close = last value, high/low = extremes,
    * plus count and exact volume. First/last are picked by row_number
    * flags (portable — engines disagree on first_value/arg_min tie
    * semantics), then one aggregation; high/low/sums are plain agg
    * functions. One shuffle on the bar key. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("bar", date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:00").as("bar"))
      .withColumn("cents", Rounding.cents(col("value")))
    val wAsc = Window.partitionBy("event_type", "bar")
      .orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy("event_type", "bar")
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "bar")
      .agg(
        max(when(col("rn_a") === 1, col("cents"))).as("open_cents"),
        max("cents").as("high_cents"),
        min("cents").as("low_cents"),
        max(when(col("rn_d") === 1, col("cents"))).as("close_cents"),
        count(lit(1)).as("n_ticks"),
        Rounding.sumCents(col("cents")).as("sum_cents"))
      .orderBy("event_type", "bar")
  }

  /** Time-weighted average price (TWAP) per (event_type, day), emitted as
    * an exact integer ratio — numerator Σ value_cents·duration_sec and
    * denominator Σ duration_sec — because the division is the only
    * non-exact step, so it is left to the consumer. Durations come from
    * lead() within the day; the day's last observation carries to
    * midnight. Everything is integer µs arithmetic truncated to whole
    * seconds by the same `div` in both engines. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
      .withColumn("us", unix_micros(col("ts")))
    val w = Window.partitionBy("event_type", "day")
      .orderBy(col("us"), col("event_id"))
    e.withColumn("next_us",
        coalesce(lead("us", 1).over(w),
          unix_micros(date_add(col("day"), 1).cast("timestamp"))))
      .withColumn("dur_sec", expr("(next_us - us) div 1000000"))
      .groupBy("event_type", "day")
      .agg(
        Rounding.sumCents(col("cents") * col("dur_sec"))
          .as("twap_num_centsec"),
        Rounding.sumCents(col("dur_sec")).as("twap_den_sec"),
        count(lit(1)).as("n_obs"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("twap_num_centsec"), col("twap_den_sec"), col("n_obs"))
      .orderBy("event_type", "day")
  }

  /** Bounded BFS reachability: min hop-distance (≤ 3) from seed parts
    * over the same co-order graph as q108. The frontier loop is the
    * standard distributed shape — each round joins the CURRENT distance
    * table (small) against the symmetrized edge list (keyed equi-join)
    * and takes a min — never a transitive-closure blowup; the DuckDB twin
    * is a recursive CTE with the same ≤3 bound and a distinct-union guard.
    * Three rounds, each one join + one aggregate; each round's frontier is
    * truncated by an eager localCheckpoint so round i's plan is one join
    * over two cached tables — not i accumulated rounds for Catalyst to
    * re-optimize (measured: per-round time grew 0.9→1.5→2.2 s under
    * persist(), flat ~0.3 s under checkpoint; see [[q108Stages]]). */
  /** Diagnostic companion to [[q113]] (round-8 advice): the graph-volume
    * numbers that separate a DATA drift (edge/seed/frontier growth after a
    * testdata regen) from a PLAN or BOX drift when q113's wall time moves —
    * one row per BFS round with the edge count and the frontier size it
    * joined. Pinned at sf0.001 by GraphStatsSpec; run at any SF when a
    * bench number needs explaining. (Round-9 baseline, sf0.1 regen'd data:
    * 25 715 edges / 17 019 nodes / 181 seeds — see ANALYSIS_r09_q113.md.) */
  private[graft] def q113Stats(s: SparkSession, dir: String): DataFrame = {
    val (edges, _, _) = q108Stages(s, dir)
    val nEdges = edges.count()
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .transform(checkpoint)
    var dist = sym.select(col("u").as("pt")).distinct()
      .filter(col("pt") % 100 === 0)
      .withColumn("dist", lit(0L))
      .transform(checkpoint)
    val rows = Seq.newBuilder[(Int, Long, Long)]
    rows += ((0, nEdges, dist.count()))
    for (r <- 1 to 3) {
      val hop = dist.join(sym, col("pt") === col("u"))
        .select(col("v").as("pt"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(hop)
        .groupBy("pt").agg(min("dist").as("dist"))
        .transform(checkpoint)
      rows += ((r, nEdges, dist.count()))
    }
    val spark = s
    import spark.implicits._
    rows.result().toDF("round", "n_edges", "n_reached").orderBy("round")
  }

  private def q113(s: SparkSession, dir: String): DataFrame = {
    val (edges, _, _) = q108Stages(s, dir)
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .transform(checkpoint)
    var dist = sym.select(col("u").as("pt")).distinct()
      .filter(col("pt") % 100 === 0)
      .withColumn("dist", lit(0L))
      .transform(checkpoint)
    for (_ <- 1 to 3) {
      val hop = dist.join(sym, col("pt") === col("u"))
        .select(col("v").as("pt"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(hop)
        .groupBy("pt").agg(min("dist").as("dist"))
        .transform(checkpoint)
    }
    dist.orderBy("pt")
  }

  /** Daily returns as exact integer ratios — the reference domain's
    * `pct_change()`: per (event_type, day), close = the day's last value
    * (row_number flag, the q111 convention), and the day-over-day return is
    * emitted as numerator (close − prev_close) over denominator
    * (prev_close), both integer cents — the q112-TWAP move of leaving the
    * one non-exact division to the consumer. First day per type keeps NULL
    * ratio parts. Two window passes, one shuffle on event_type. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
    val wDay = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val close = e.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day"), col("cents").as("close_cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
    close.withColumn("prev", lag("close_cents", 1).over(w))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("close_cents"),
        (col("close_cents") - col("prev")).as("ret_num_cents"),
        col("prev").as("ret_den_cents"))
      .orderBy("event_type", "day")
  }

  /** Truncated EWMA with dyadic weights — the exponential smoothing a
    * float implementation cannot make reproducible (α-powers accumulate
    * rounding that depends on history length), made EXACT: the last 8
    * observations weighted 128, 64, …, 1 (halving = α = 0.5), emitted as
    * an integer numerator/denominator pair. One SQL text runs on BOTH
    * engines (`lag` + a named WINDOW clause are engine-shared syntax), so
    * the arithmetic cannot drift apart; missing/NULL lags contribute
    * nothing to either sum. One window pass, no joins. */
  private val q122Sql: String = {
    def term(i: Int): String = {
      val w = 128 >> i
      s"""CASE WHEN lag(cents, $i) OVER w IS NOT NULL
         |THEN $w * lag(cents, $i) OVER w ELSE 0 END""".stripMargin
        .replace("\n", " ")
    }
    def den(i: Int): String = {
      val w = 128 >> i
      s"CASE WHEN lag(cents, $i) OVER w IS NOT NULL THEN $w ELSE 0 END"
    }
    s"""SELECT event_id,
       |  CAST(${(0 to 7).map(term).mkString(" + ")} AS BIGINT) AS ewma_num,
       |  CAST(${(0 to 7).map(den).mkString(" + ")} AS BIGINT) AS ewma_den
       |FROM (SELECT event_id, event_type, ts,
       |        ${Rounding.centsSql("value")} AS cents
       |      FROM events)
       |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin
  }

  private def q122(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.run(s, dir, q122Sql)

  /** Seasonal-baseline anomaly counts: per (event_type, hour-of-day), how
    * many events exceed 2× that slot's own mean — the time-of-day
    * seasonality screen. The mean never materializes as a float: the flag
    * compares integer cross-products (cents·n > 2·sum), so both engines
    * decide every row identically. Baseline table is O(types × 24) and
    * broadcast back (the q81/q116 shape). */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
        Rounding.cents(col("value")).as("vc"))
    val base = e.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("bn"), Rounding.sumCents(col("vc")).as("bs"))
    e.join(broadcast(base), Seq("event_type", "hod"))
      .groupBy("event_type", "hod")
      .agg(min("bn").as("n"),
        sum((col("vc") * col("bn") > col("bs") * 2).cast("long"))
          .as("n_above"))
      .orderBy("event_type", "hod")
  }

  /** Forward as-of match: each click resolves to the user's NEXT priced
    * purchase (ts ≥ click ts; same-instant purchases count; ties break on
    * event_id) — the mirror image of q25/q61's backward as-of, built as
    * one interleaved window pass: clicks sort BEFORE purchases at equal
    * ts (kind 0 < 1 — the click's forward frame starts at itself, so a
    * same-instant purchase must sort after it to be visible; the inverted
    * flag order silently dropped same-ts matches, caught by review
    * simulation, pinned in ForwardAsofSpec), and a single
    * `first(…, ignoreNulls) OVER (CURRENT ROW … UNBOUNDED FOLLOWING)`
    * carries the next purchase back. The (eid, cents) pair rides ONE
    * struct through the window so both fields always come from the same
    * purchase row. No join at all on the engine side; the oracle runs the
    * naive future-join + row_number. */
  private[graft] def forwardAsof(e: DataFrame): DataFrame = {
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        lit(0).as("kind"), lit(null).cast("long").as("p_eid"),
        lit(null).cast("long").as("p_cents"))
    val buys = e.filter(col("event_type") === "purchase" &&
        col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        lit(1).as("kind"), col("event_id").as("p_eid"),
        Rounding.cents(col("value")).as("p_cents"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(buys)
      .withColumn("np",
        first(when(col("kind") === 1,
          struct(col("p_eid"), col("p_cents"))), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("event_id"), col("user_id"),
        col("np.p_eid").as("next_purchase_eid"),
        col("np.p_cents").as("next_purchase_cents"))
  }

  private def q124(s: SparkSession, dir: String): DataFrame =
    forwardAsof(ev(s, dir)).orderBy("event_id")

  /** Rolling correlation over a 50-row frame — q82's exact-power-sum
    * de-floating applied to WINDOWED second-order statistics: all six
    * sums (n, Σx, Σy, Σxy, Σx², Σy²) are integer window sums over the
    * same frame, and both engines then run one identical double formula
    * per row. Frames shorter than 10 rows and zero-variance frames emit
    * NULL (the q119 guard — Spark would cast the NaN silently, DuckDB
    * would error). x = value cents, y = payload length: the rolling
    * price-vs-payload co-movement screen. One window pass, no joins. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .filter(col("value").isNotNull && col("props").isNotNull)
      .select(col("event_id"), col("event_type"), col("ts"),
        Rounding.cents(col("value")).as("x"),
        length(col("props")).cast("long").as("y"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-49, Window.currentRow)
    // window sums accumulate through decimal(38,0) like q82's grouped
    // sums: Spark's sum(long) wraps past 2^63 with ANSI off while DuckDB
    // promotes to HUGEINT — the one asymmetry that could split the engines
    def exactSum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).over(w).cast("double")
    e.select(col("event_id"),
        count(lit(1)).over(w).cast("double").as("n"),
        exactSum(col("x")).as("sx"),
        exactSum(col("y")).as("sy"),
        exactSum(col("x") * col("y")).as("sxy"),
        exactSum(col("x") * col("x")).as("sxx"),
        exactSum(col("y") * col("y")).as("syy"))
      .select(col("event_id"), col("n").cast("long").as("n_frame"),
        expr("""CASE WHEN n < 10 OR n * sxx - sx * sx = 0
            OR n * syy - sy * sy = 0 THEN NULL
          ELSE CAST(floor(((n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
            * 1000000.0 + 0.5) AS BIGINT) END""").as("roll_corr_e6"))
      .orderBy("event_id")
  }

  /** Lag-1 autocorrelation per user over the value series — the
    * serial-dependence diagnostic a feature pipeline runs before trusting
    * i.i.d. assumptions (and the ACF(1) input to order selection). One
    * window pass pairs each observation with its successor in
    * (ts, event_id) order — the lead() shape of SURVEY §2 row 29 — then
    * one aggregation computes the Pearson power sums over the pairs.
    * The q126 de-floating discipline: sums accumulate exactly through
    * decimal(38,0) (DuckDB mirrors via HUGEINT), get cast to double
    * ONCE, and both engines evaluate one identical correlation formula
    * on identical integers; the raw Σx·x₊₁ is also emitted as exact
    * BIGINT. Scale: the window and the groupBy share the user_id
    * partitioning, so Catalyst plans a single exchange. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = ev(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        Rounding.cents(col("value")).as("x"))
      .withColumn("x1", lead(col("x"), 1).over(w))
      .filter(col("x1").isNotNull)
    def ds(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).cast("double")
    pairs.groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("n"),
        ds(col("x")).as("sx"), ds(col("x1")).as("sy"),
        ds(col("x") * col("x1")).as("sxy"),
        ds(col("x") * col("x")).as("sxx"),
        ds(col("x1") * col("x1")).as("syy"),
        sum((col("x") * col("x1")).cast("decimal(38,0)")).cast("long")
          .as("sxy_c2"))
      .select(col("user_id"), col("n").cast("long").as("n_pairs"),
        col("sxy_c2"),
        expr("""CASE WHEN n < 3 OR n * sxx - sx * sx = 0
            OR n * syy - sy * sy = 0 THEN NULL
          ELSE CAST(floor(((n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
            * 1000000.0 + 0.5) AS BIGINT) END""").as("autocorr_e6"))
      .orderBy("user_id")
  }

  /** Theil–Sen robust trend per user — the median of all pairwise
    * day-close slopes, the estimator OLS regulars reach for when a
    * series has outliers (one fat-fingered spike moves an OLS slope
    * arbitrarily; Theil–Sen shrugs off up to ~29% contamination). Kept
    * exactly integral until the very end: each day's close is integer
    * cents (q120's row_number pick, deterministic ts/event_id
    * tie-break), each pairwise slope is the exact rational
    * (c_b − c_a) / (day_b − day_a), and both engines order pairs by the
    * IDENTICAL double num/den (exact ints ≤ 2^53 in, same one IEEE
    * division) with (di_a, di_b) tie-breaks, then pick the lower-median
    * row by position — so the reported slope is a specific PAIR's exact
    * rational, not an averaged float. 100 TB posture: the per-user pair
    * fan-out is O(days²) where days is CALENDAR-bounded (30 here; any
    * deployment bounds its window), so the keyed self-join's per-key
    * cost is a constant — the shuffle is two exchanges on user_id, and
    * no window ever spans more than one user's pairs. */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("2024-01-01"))
    val wDay = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev(s, dir)
      .filter(col("value").isNotNull) // NULL cents would inject NULL
      // slopes, whose sort position differs between engines (q131 guard)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), datediff(col("day"), epoch).as("di"),
        col("cents"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.di") < col("b.di"))
      .select(col("a.user_id").as("user_id"),
        col("a.di").as("di_a"), col("b.di").as("di_b"),
        (col("b.cents") - col("a.cents")).as("num_cents"),
        (col("b.di") - col("a.di")).cast("long").as("den_days"))
      .withColumn("slope", col("num_cents").cast("double") / col("den_days"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("slope"), col("di_a"), col("di_b"))
    val cnt = Window.partitionBy("user_id")
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(cnt))
      .filter(col("rn") === Rounding.intDiv(col("n_pairs") + 1, lit(2)))
      .select(col("user_id"), col("n_pairs"),
        col("num_cents").as("slope_num_cents"),
        col("den_days").as("slope_den_days"),
        floor(lit(1000000.0) * col("num_cents") / col("den_days") +
          lit(0.5)).cast("long").as("slope_e6"))
      .orderBy("user_id")
  }

  /** SAX-style motif mining over daily close moves — the time-series
    * pattern census (which shapes recur? is there a pump-and-dump
    * UUUD signature?): per event_type, each day's close move becomes a
    * symbol (U/D/F vs the previous close, exact integer cents compare
    * — no float discretization boundary), consecutive symbols form
    * 4-gram motifs via three lead() taps (the `||` concat propagates
    * NULL identically in both engines, so tail windows shorter than 4
    * drop out of both), and the top 3 motifs per type survive a
    * deterministic (n DESC, motif) rank. Everything rides the q120
    * daily-close machinery; the only exchanges are the per-(type, day)
    * close pick and the 5-type rollup. */
  private def q249(s: SparkSession, dir: String): DataFrame = {
    val wDay = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val w = Window.partitionBy("event_type").orderBy("day")
    val close = ev(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day"), col("cents"))
    val sym = close
      .withColumn("prev", lag("cents", 1).over(w))
      .withColumn("s", when(col("prev").isNull, lit(null).cast("string"))
        .when(col("cents") > col("prev"), lit("U"))
        .when(col("cents") < col("prev"), lit("D"))
        .otherwise(lit("F")))
      .filter(col("s").isNotNull)
    val motifs = sym
      .withColumn("motif", concat_ws("", col("s"),
        lead("s", 1).over(w), lead("s", 2).over(w), lead("s", 3).over(w)))
      .filter(length(col("motif")) === 4)
      .groupBy("event_type", "motif")
      .agg(count(lit(1)).as("n"))
    val r = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("motif"))
    motifs.withColumn("motif_rank", row_number().over(r).cast("long"))
      .filter(col("motif_rank") <= 3)
      .orderBy("event_type", "motif_rank")
  }

  /** Date-dimension build + activity rollup — the warehouse staple every
    * star schema starts with: the calendar over the data's own [min,
    * max] day span (sequence explode — O(span), data-size-independent),
    * conformed day features (weekday 0=Mon via the Spark weekday ≡
    * DuckDB isodow−1 identity — dayofweek's 1=Sunday convention differs
    * between engines and is avoided), and the per-day activity facts
    * LEFT-joined so calendar gaps surface as explicit zero rows (the
    * q105 gap-fill contract, rolled up instead of carried forward). */
  private def q251(s: SparkSession, dir: String): DataFrame = {
    val days = ev(s, dir)
      .select(to_date(col("ts")).as("d"))
      .groupBy().agg(min("d").as("lo"), max("d").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val daily = ev(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents").cast("decimal(38,0)")).cast("long")
          .as("value_cents"))
    days.join(daily, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        expr("weekday(day)").cast("long").as("wd"),
        (expr("weekday(day)") >= 5).cast("long").as("is_weekend"),
        month(col("day")).cast("long").as("month"),
        quarter(col("day")).cast("long").as("quarter"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("value_cents"), lit(0L)).as("value_cents"))
      .orderBy("day")
  }

  /** 3σ daily-volume anomaly alerts, square-root-free — the monitoring
    * rule every ingestion pipeline wants ("page me when today's volume
    * leaves the trailing band") made EXACT: |x − μ| > 3σ over the
    * trailing 7 observed days is algebraically (w·x − S)² > 9·(w·Q −
    * S²) after multiplying through by w² — counts, their squares, and
    * two framed window sums, no mean, no variance, no sqrt ever
    * materializes (the q135/q171 de-floating discipline applied to the
    * classic z-test; squares ride decimal(38,0)/HUGEINT so 10⁹-row
    * days cannot wrap). Windows partition per type; a day needs ≥ 3
    * trailing observations to alert. */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w7 = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    val dev = (col("w") * col("x") - col("s")).cast("decimal(38,0)")
    val rhs = (col("w").cast("decimal(38,0)") * col("q") -
      col("s").cast("decimal(38,0)") * col("s")) * lit(9)
    daily
      .withColumn("w", count(lit(1)).over(w7))
      .withColumn("s", coalesce(sum("x").over(w7), lit(0L)))
      .withColumn("q", coalesce(sum(col("x") * col("x")).over(w7), lit(0L)))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x").as("n_events"), col("w").as("w_days"),
        col("s").as("s_w"), col("q").as("q_w"),
        (col("w") >= 3L && dev * dev > rhs).cast("long").as("is_alert"))
      .orderBy("event_type", "day")
  }

  /** Weekday-seasonality strength as exact η² — one-way ANOVA ("what
    * fraction of daily-revenue variance does the weekday explain"),
    * kept EXACTLY integral by the lcm trick: η² = SSB/SST is invariant
    * under scaling both by n·L, and with L = 2520 = lcm(1..9) every
    * per-weekday day-count n_g (4–5 in a month window) divides L, so
    * n·L·SSB = n·Σ_g T_g²·(L div n_g) − L·T² and n·L·SST = n·L·Q −
    * L·T² are exact integers (decimal(38,0)/HUGEINT — T² alone passes
    * int64) and the single e6 division at the end is the exact
    * rational. (For multi-year windows where n_g outgrows L, swap to
    * per-term rounded rationals — the q229 grid trick; the month
    * window keeps the pure-integer form.) The q82/q119 power-sum
    * discipline applied to variance DECOMPOSITION. */
  private def q277(s: SparkSession, dir: String): DataFrame = {
    import Rounding.{intDiv, intDivExact}
    val daily = ev(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("x"))
      .withColumn("wd", expr("weekday(day)").cast("long"))
    val grp = daily.groupBy("event_type", "wd")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x").cast("decimal(38,0)")).as("t_g"))
      // divisibility GUARD (round-10 advice): intDiv silently floors once
      // n_g stops dividing 2520 (event spans past ~2 months ⇒ n_g > 9),
      // turning the documented exactness contract into an unflagged
      // approximation (SSB biased low relative to SST). Both engines floor
      // identically so the oracle would still match — which is exactly why
      // the degradation needs a loud in-engine failure rather than a
      // correctness gate to catch it. raise_error is lazy in the untaken
      // branch; at oracle SFs every n_g is 4–5 and the value is unchanged.
      .withColumn("term",
        when(lit(2520L) % col("n_g") === 0L,
          col("t_g") * col("t_g") * intDiv(lit(2520L), col("n_g")))
          .otherwise(raise_error(concat(
            lit("q277 exact eta-squared requires n_g | 2520 " +
              "(window <= ~2 months); got n_g="),
            col("n_g").cast("string"),
            lit(" -- switch to the per-term rounded-rational form")))))
      .groupBy("event_type")
      .agg(sum("term").as("ssb_part"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("t"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
    grp.join(tot, "event_type")
      .withColumn("ssb", col("n") * col("ssb_part") -
        lit(2520L) * col("t") * col("t"))
      .withColumn("sst", col("n") * lit(2520L) * col("q") -
        lit(2520L) * col("t") * col("t"))
      .select(col("event_type"), col("n").as("n_days"),
        intDivExact(col("ssb") * lit(2000000L) + col("sst"),
          lit(2L) * col("sst")).as("eta2_e6"))
      .orderBy("event_type")
  }

  /** Seasonal-naive forecast backtest — the baseline every forecasting
    * system must beat, evaluated the way a backtest harness does:
    * forecast(day) = actual(day − 7) (same weekday last week), scored
    * over every day with both sides present. The error metric stays on
    * the exact integer grid: per-day APE_e4 = ⌊10⁴·|a − f| / a⌋
    * ([[Rounding.intDiv]] — daily cents totals are positive), MAPE =
    * ⌊ΣAPE / n⌋ — floor-before-mean, the q250 convention, so no double
    * ever averages. One lag-7 window per type + one rollup. A MAPE_e4
    * near 10⁴ (100%) says the series has no weekly seasonality to
    * exploit — itself the finding on this synthetic corpus. */
  private def q268(s: SparkSession, dir: String): DataFrame = {
    import Rounding.{intDiv, intDivExact}
    val daily = ev(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("a"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("f", lag("a", 7).over(w))
      .filter(col("f").isNotNull && col("a") > 0L)
      // the error product widens through decimal: 10⁴ × a petabyte-day's
      // cents total passes 2^53, so the three-double-op intDiv would drift
      .withColumn("ape_e4", intDivExact(
        abs(col("a") - col("f")).cast("decimal(38,0)") * lit(10000L),
        col("a")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        intDiv(sum("ape_e4"), count(lit(1))).as("mape_e4"),
        max("ape_e4").as("max_ape_e4"))
      .orderBy("event_type")
  }

  /** Spearman rank correlation between daily volume and daily revenue,
    * per event_type — the monotone-association check (does more traffic
    * mean more money, without assuming linearity) that Pearson's r gets
    * wrong on heavy-tailed revenue. De-floated to the last possible op:
    * tie-averaged ranks ride the DOUBLED-rank integer grid (2·avgrank =
    * 2·rank + ties − 1 — always an integer, no .5 ever), all five power
    * sums accumulate exactly in decimal(38,0), and ρ's one float step —
    * num/√(vx·vy) — runs on identical exact integers in both engines:
    * decimal→double is round-to-nearest of the same integer, sqrt is
    * IEEE correctly-rounded, so the e6 floor lands on the same bit
    * pattern everywhere (the q263 sqrt argument). Windows partition per
    * type; one aggregation after. Degenerate variance (constant series)
    * → NULL, explicitly. */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"),
        Rounding.sumCents(Rounding.cents(col("value"))).as("y"))
    def r2(c: String): org.apache.spark.sql.Column =
      lit(2L) * rank().over(
        Window.partitionBy("event_type").orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy("event_type", c)) - lit(1L)
    val ranked = daily
      .withColumn("rx", r2("x").cast("decimal(38,0)"))
      .withColumn("ry", r2("y").cast("decimal(38,0)"))
    ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("rx").as("sx"), sum("ry").as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vx", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_days") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("n_days"),
        when(col("vx") > 0 && col("vy") > 0,
          floor(col("num").cast("double") /
            (sqrt(col("vx").cast("double")) *
              sqrt(col("vy").cast("double"))) * lit(1000000.0) + lit(0.5))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("rho_e6"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test on the daily-revenue up/down sequence, per
    * event_type — "is the series random, or does it trend/oscillate":
    * too FEW runs of consecutive ups/downs means momentum, too many
    * means mean-reversion. Kept exact end-to-end: moves are the sign of
    * the day-over-day cents delta (zeros dropped, the standard
    * convention), the run count is a boundary-flag sum, and the squared
    * z-statistic collapses to ONE exact rational — z² = ((R−1)n −
    * 2n₁n₂)²·(n−1) / (2n₁n₂(2n₁n₂−n)) — emitted half-up on the e6 grid
    * through decimal(38,0)/HUGEINT. The σ²≤0 degenerate regimes (all
    * one direction, or 2n₁n₂ ≤ n) are explicit NULLs in both engines.
    * Two window passes per type + one rollup. */
  private def q303(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val w = Window.partitionBy("event_type").orderBy("day")
    val daily = ev(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("t"))
    val moves = daily
      .withColumn("mv", signum(col("t") - lag("t", 1).over(w)).cast("long"))
      .filter(col("mv") =!= 0L)
      .withColumn("brk",
        (lag("mv", 1).over(w).isNull ||
          col("mv") =!= lag("mv", 1).over(w)).cast("long"))
    moves.groupBy("event_type")
      .agg(count(lit(1)).as("n_moves"),
        sum(when(col("mv") === 1L, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("mv") === -1L, 1L).otherwise(0L)).as("n_down"),
        sum("brk").as("n_runs"))
      .withColumn("a",
        (col("n_runs") - lit(1L)).cast("decimal(38,0)") * col("n_moves") -
          lit(2L) * col("n_up").cast("decimal(38,0)") * col("n_down"))
      .withColumn("den",
        lit(2L) * col("n_up").cast("decimal(38,0)") * col("n_down") *
          (lit(2L) * col("n_up").cast("decimal(38,0)") * col("n_down") -
            col("n_moves")))
      .select(col("event_type"), col("n_moves"), col("n_up"),
        col("n_down"), col("n_runs"),
        when(col("den") > 0,
          intDivExact(
            col("a") * col("a") * (col("n_moves") - lit(1L)) *
              lit(2000000L) + col("den"),
            lit(2L) * col("den")))
          .otherwise(lit(null).cast("long")).as("z2_e6"))
      .orderBy("event_type")
  }

  /** Mann–Kendall trend test (tau-a) per event type — the
    * distribution-free "is this series actually trending?" gate a
    * monitoring pipeline runs before fitting any slope (q228's
    * Theil–Sen estimates the slope; this tests whether one exists):
    * S = Σ_{i<j} sign(x_j − x_i) over the DAILY revenue series, a
    * census over day pairs. Exact throughout — sign comparisons on
    * integer cents, τ_a = S·10⁶ div C(n,2) as one signed exact
    * division ([[Rounding.intDivExact]], dividend-signed truncation on
    * both engines; ties contribute 0 to S by tau-a's definition,
    * stated rather than hidden). Scale: the pair join is PER TYPE over
    * the calendar-bounded daily table (≤ ~4k days/decade → ≤ 8M pairs
    * per type, keyed on event_type) — the q294 calendar-bounded
    * argument; the raw event table is touched once, by the daily
    * aggregation. */
  private def q325(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val daily = ev(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("x"))
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        signum(col("b.x") - col("a.x")).cast("long").as("sgn"))
      .groupBy("event_type").agg(sum("sgn").as("s_stat"))
    val n = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    n.join(pairs, "event_type")
      .select(col("event_type"), col("n_days"), col("s_stat"),
        intDivExact(col("s_stat").cast("decimal(38,0)") * lit(2000000L),
          col("n_days") * (col("n_days") - lit(1L))).as("tau_e6"))
      .orderBy("event_type")
  }

  /** Single changepoint by exact between-group sum-of-squares — binary
    * segmentation's first (and at corpus scale, usually only) split:
    * for every candidate day k the gain is n_l·n_r·(mean_l − mean_r)²,
    * maximized exactly on the integer grid via the common-denominator
    * form (S_l·n_r − S_r·n_l)² / (k·(n−k)), normalized by S² into a
    * dimensionless e6 so the output fits BIGINT at any revenue scale
    * (operands stay within decimal(38,0): S ≤ ~10¹¹ cents·days ⇒
    * num·10⁶ ≤ ~10³²). Ties break to the EARLIEST day — deterministic,
    * stated. One daily aggregation, per-type prefix windows over the
    * calendar-bounded series, one rank — no pair join at all. */
  private def q326(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val daily = ev(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("x"))
    val ord = Window.partitionBy("event_type").orderBy("day")
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("s_all"))
    val pre = daily
      .withColumn("k", row_number().over(ord).cast("long"))
      .withColumn("s_l", sum("x").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(tot, "event_type")
      .filter(col("k") < col("n") && col("s_all") =!= 0L)
      .withColumn("num",
        (col("s_l").cast("decimal(38,0)") * (col("n") - col("k")) -
          (col("s_all") - col("s_l")).cast("decimal(38,0)") * col("k")))
      .withColumn("gain_rel_e6", intDivExact(
        col("num") * col("num") * lit(1000000L),
        (col("k") * (col("n") - col("k"))).cast("decimal(38,0)") *
          col("s_all") * col("s_all")))
    pre
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("gain_rel_e6").desc, col("k"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        date_format(col("day"), "yyyy-MM-dd").as("split_day"),
        col("k").as("n_left"), col("gain_rel_e6"),
        intDivExact(col("s_l").cast("decimal(38,0)") * lit(100L),
          col("k")).as("mean_l_cents_e2"),
        intDivExact(
          (col("s_all") - col("s_l")).cast("decimal(38,0)") * lit(100L),
          col("n") - col("k")).as("mean_r_cents_e2"))
      .orderBy("event_type")
  }

  val defs: Map[String, Q] = Map(
    "q325_mann_kendall" -> (q325 _),
    "q326_changepoint" -> (q326 _),
    "q300_spearman" -> (q300 _),
    "q303_runs_test" -> (q303 _),
    "q171_autocorr" -> (q171 _),
    "q228_theilsen" -> (q228 _),
    "q249_sax_motifs" -> (q249 _),
    "q251_date_dim" -> (q251 _),
    "q253_volume_alerts" -> (q253 _),
    "q268_backtest_mape" -> (q268 _),
    "q277_weekday_eta2" -> (q277 _),
    "q105_gapfill_ffill" -> (q105 _),
    "q106_unpivot" -> (q106 _),
    "q107_mad_outliers" -> (q107 _),
    "q108_triangles" -> (q108 _),
    "q109_scd2_pit" -> (q109 _),
    "q110_cum_distinct" -> (q110 _),
    "q111_ohlc_bars" -> (q111 _),
    "q112_twap" -> (q112 _),
    "q113_bfs_reach" -> (q113 _),
    "q120_daily_returns" -> (q120 _),
    "q122_ewma_dyadic" -> (q122 _),
    "q123_seasonal_baseline" -> (q123 _),
    "q124_forward_asof" -> (q124 _),
    "q126_rolling_corr" -> (q126 _),
    "q131_interpolate" -> (q131 _),
    "q135_cusum" -> (q135 _))

  /** CUSUM change-point detection per event_type — the drift monitor a
    * pipeline puts on its daily volume/value series. The cumulative sum
    * of deviations-from-mean is kept EXACTLY integer by scaling through
    * the day count: cusum_k = Σ_{d≤k} (T_d·D − S) where T_d is the day's
    * cents total, D the day count and S the series total — the mean
    * never materializes as a float, the series provably returns to zero
    * at d=D, and the peak |cusum| day is the candidate change point.
    * One daily aggregate, a broadcast per-type (D, S) row, one running
    * window, one argmax window — two keyed shuffles end to end. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .filter(col("value").isNotNull) // engines order NULL |cusum| differently
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("t"))
    val totals = daily.groupBy("event_type")
      .agg(count(lit(1)).as("dcount"),
        Rounding.sumCents(col("t")).as("stotal"))
    val wRun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPeak = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("day"))
    daily.join(broadcast(totals), "event_type")
      .withColumn("cusum",
        // factors go to decimal BEFORE the multiply: a t·dcount int64
        // product overflows at ~1e19 — Spark would wrap silently (ANSI
        // off) while DuckDB aborts; widths chosen so both engines'
        // result types stay inside DECIMAL(38,0)
        sum(col("t").cast("decimal(24,0)") *
            col("dcount").cast("decimal(8,0)") -
            col("stotal").cast("decimal(31,0)"))
          .over(wRun).cast("long"))
      .withColumn("rn", row_number().over(wPeak))
      .filter(col("rn") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
        col("cusum").as("peak_cusum"), col("dcount").as("n_days"))
      .orderBy("event_type")
  }

  /** Calendar gap-fill with LINEAR interpolation — the `resample()
    * .interpolate()` twin of q105's forward fill. Same per-(type, day)
    * last-observation construction as q105, but keyed per USER — user
    * activity is naturally sparse in days, so the gap branch does real
    * work (q105's per-type grid is fully observed at every SF, which
    * would leave interpolation dead code); each missing day then sees its nearest
    * observed neighbors on both sides via two ignoreNulls window passes
    * over ONE ascending (user, day) sort (backward last + forward first —
    * the q124 interleave trick, zero joins beyond the grid's own), and
    * the interpolated value is emitted as an EXACT integer rational:
    * num = v0·(t1−t) + v1·(t−t0), den = t1−t0 (days). No division ever
    * happens engine-side, so there is no float channel to diverge — the
    * q112/q120/q122 discipline. Observed days emit (cents, 1). The grid
    * spans [min obs, max obs] per user, so both neighbors always exist. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .filter(col("value").isNotNull) // a NULL-cents first/last obs would
      // void the 'both neighbors exist' rational contract
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
    val wDay = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val obs = e.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select("user_id", "day", "cents")
    val grid = obs.groupBy("user_id")
      .agg(min("day").as("dmin"), max("day").as("dmax"))
      .select(col("user_id"),
        explode(expr("sequence(dmin, dmax, interval 1 day)")).as("day"))
    val wB = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("cents").isNotNull, col("day"))
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("v0", last("cents", ignoreNulls = true).over(wB))
      .withColumn("t0", last(obsDay, ignoreNulls = true).over(wB))
      .withColumn("v1", first("cents", ignoreNulls = true).over(wF))
      .withColumn("t1", first(obsDay, ignoreNulls = true).over(wF))
      .select(col("user_id"), col("day"),
        when(col("cents").isNotNull, col("cents"))
          .otherwise(
            col("v0") * datediff(col("t1"), col("day")).cast("long") +
            col("v1") * datediff(col("day"), col("t0")).cast("long"))
          .cast("long").as("num0"),
        when(col("cents").isNotNull, lit(1L))
          .otherwise(datediff(col("t1"), col("t0")).cast("long"))
          .cast("long").as("den0"),
        col("cents").isNotNull.cast("long").as("observed"))
      // canonical reduced rational via the native int_gcd expression:
      // (3,6) and (1,2) are the same number but different bytes — the
      // gcd division (exact: g divides both legs; den0 ≥ 1 so g ≥ 1)
      // makes equal values byte-equal, which downstream dedup/compare
      // and the hash-based oracle both want
      .withColumn("g", graft.expressions.Gcd.gcd(col("num0"), col("den0")))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        expr("num0 div g").as("interp_num"),
        expr("den0 div g").as("interp_den"),
        col("observed"))
      .orderBy("user_id", "day")
  }

  private val centsV = Rounding.centsSql("value")

  val oracle: Map[String, String] = Map(
    // same doubled-rank grid (2·rank + ties − 1), HUGEINT power sums,
    // identical double arithmetic on the exact integers at the end
    "q300_spearman" -> {
      val cents = Rounding.centsSql("value")
      s"""WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x,
        |    ${Rounding.sumCentsSql(cents)} AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY x)
        |      + count(*) OVER (PARTITION BY event_type, x) - 1
        |      AS HUGEINT) AS rx,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY y)
        |      + count(*) OVER (PARTITION BY event_type, y) - 1
        |      AS HUGEINT) AS ry
        |  FROM d),
        |p AS (
        |  SELECT event_type, count(*) AS n_days,
        |    sum(rx) AS sx, sum(ry) AS sy, sum(rx * rx) AS sxx,
        |    sum(ry * ry) AS syy, sum(rx * ry) AS sxy
        |  FROM r GROUP BY event_type),
        |v AS (
        |  SELECT event_type, n_days,
        |    n_days * sxy - sx * sy AS num,
        |    n_days * sxx - sx * sx AS vx,
        |    n_days * syy - sy * sy AS vy
        |  FROM p)
        |SELECT event_type, n_days,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    CAST(floor(CAST(num AS DOUBLE) /
        |      (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT)
        |  ELSE NULL END AS rho_e6
        |FROM v ORDER BY event_type""".stripMargin
    },
    // same sign-of-delta moves, boundary-flag run count, one exact
    // rational z² half-up on the e6 grid
    "q303_runs_test" -> {
      val cents = Rounding.centsSql("value")
      s"""WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(cents)} AS t
        |  FROM events GROUP BY 1, 2),
        |m0 AS (
        |  SELECT event_type, day,
        |    sign(t - lag(t) OVER (PARTITION BY event_type ORDER BY day))
        |      AS mv
        |  FROM d),
        |m AS (SELECT * FROM m0 WHERE mv IS NOT NULL AND mv <> 0),
        |b AS (
        |  SELECT event_type, mv,
        |    CASE WHEN lag(mv) OVER (PARTITION BY event_type ORDER BY day)
        |      IS DISTINCT FROM mv THEN 1 ELSE 0 END AS brk
        |  FROM m),
        |agg AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN mv = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(sum(CASE WHEN mv = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down,
        |    CAST(sum(brk) AS BIGINT) AS n_runs
        |  FROM b GROUP BY event_type),
        |z AS (
        |  SELECT event_type, n, n_up, n_down, n_runs,
        |    CAST(n_runs - 1 AS HUGEINT) * n
        |      - 2 * CAST(n_up AS HUGEINT) * n_down AS a,
        |    2 * CAST(n_up AS HUGEINT) * n_down *
        |      (2 * CAST(n_up AS HUGEINT) * n_down - n) AS den
        |  FROM agg)
        |SELECT event_type, n AS n_moves, n_up, n_down, n_runs,
        |  CASE WHEN den > 0 THEN
        |    CAST((a * a * (n - 1) * 2000000 + den) // (2 * den) AS BIGINT)
        |  ELSE NULL END AS z2_e6
        |FROM z ORDER BY event_type""".stripMargin
    },
    // same lcm-scaled integer ANOVA; HUGEINT mirrors the decimal chain
    "q325_mann_kendall" -> {
      import Rounding.intDivExactSql
      val tau = intDivExactSql(
        "CAST(s_stat AS HUGEINT) * 2000000", "n_days * (n_days - 1)")
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY a.event_type),
        |n AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
        |SELECT n.event_type, CAST(n_days AS BIGINT) AS n_days, s_stat,
        |  $tau AS tau_e6
        |FROM n JOIN p ON n.event_type = p.event_type
        |ORDER BY n.event_type""".stripMargin
    },
    "q326_changepoint" -> {
      import Rounding.intDivExactSql
      val gain = intDivExactSql(
        "CAST(num AS HUGEINT) * num * 1000000",
        "CAST(k * (n - k) AS HUGEINT) * s_all * s_all")
      val ml = intDivExactSql("CAST(s_l AS HUGEINT) * 100", "k")
      val mr = intDivExactSql(
        "CAST(s_all - s_l AS HUGEINT) * 100", "n - k")
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS s_all
        |  FROM daily GROUP BY 1),
        |pre AS (
        |  SELECT d.event_type, d.day, t.n, t.s_all,
        |    CAST(row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.day) AS BIGINT) AS k,
        |    CAST(sum(x) OVER (PARTITION BY d.event_type ORDER BY d.day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_l
        |  FROM daily d JOIN tot t ON d.event_type = t.event_type),
        |g AS (
        |  SELECT *, CAST(s_l AS HUGEINT) * (n - k)
        |      - CAST(s_all - s_l AS HUGEINT) * k AS num
        |  FROM pre WHERE k < n AND s_all <> 0),
        |sc AS (
        |  SELECT event_type, day, n, k, s_l, s_all,
        |    $gain AS gain_rel_e6
        |  FROM g),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain_rel_e6 DESC, k) AS rk
        |  FROM sc)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  strftime(day, '%Y-%m-%d') AS split_day,
        |  k AS n_left, gain_rel_e6,
        |  $ml AS mean_l_cents_e2, $mr AS mean_r_cents_e2
        |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin
    },
    "q277_weekday_eta2" -> {
      import Rounding.intDivExactSql
      val eta = intDivExactSql(
        "ssb * 2000000 + sst", "2 * sst")
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS x
        |  FROM events GROUP BY 1, 2),
        |wdd AS (
        |  SELECT event_type, CAST(isodow(day) - 1 AS BIGINT) AS wd, x
        |  FROM daily),
        |grp AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(t_g AS HUGEINT) * t_g * (2520 // n_g))
        |      AS HUGEINT) AS ssb_part
        |  FROM (SELECT event_type, wd, count(*) AS n_g,
        |          CAST(sum(x) AS BIGINT) AS t_g
        |        FROM wdd GROUP BY 1, 2)
        |  GROUP BY event_type),
        |tot AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS t,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        |  FROM wdd GROUP BY event_type),
        |s AS (
        |  SELECT grp.event_type, tot.n,
        |    tot.n * grp.ssb_part
        |      - 2520 * CAST(tot.t AS HUGEINT) * tot.t AS ssb,
        |    tot.n * 2520 * tot.q
        |      - 2520 * CAST(tot.t AS HUGEINT) * tot.t AS sst
        |  FROM grp JOIN tot ON grp.event_type = tot.event_type)
        |SELECT event_type, n AS n_days, $eta AS eta2_e6
        |FROM s ORDER BY event_type""".stripMargin
    },
    // same lag-7 naive forecast, HUGEINT APE, floor-before-mean MAPE
    "q268_backtest_mape" -> {
      import Rounding.{intDivSql, intDivExactSql}
      val ape = intDivExactSql("CAST(abs(a - f) AS HUGEINT) * 10000", "a")
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS a
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, a,
        |    lag(a, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
        |  FROM daily),
        |e AS (
        |  SELECT event_type, $ape AS ape_e4
        |  FROM l WHERE f IS NOT NULL AND a > 0)
        |SELECT event_type, count(*) AS n_days,
        |  ${intDivSql("sum(ape_e4)", "count(*)")} AS mape_e4,
        |  CAST(max(ape_e4) AS BIGINT) AS max_ape_e4
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    // the same multiplied-through z-test; HUGEINT squares mirror the
    // engine's decimal(38,0)
    "q253_volume_alerts" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day, x,
        |    count(*) OVER w AS w,
        |    coalesce(sum(x) OVER w, 0) AS s,
        |    coalesce(sum(x * x) OVER w, 0) AS q
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  x AS n_events, w AS w_days,
        |  CAST(s AS BIGINT) AS s_w, CAST(q AS BIGINT) AS q_w,
        |  CAST(w >= 3 AND
        |    CAST(w * x - s AS HUGEINT) * CAST(w * x - s AS HUGEINT) >
        |    9 * (CAST(w AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |    AS BIGINT) AS is_alert
        |FROM t ORDER BY event_type, day""".stripMargin,
    // calendar from the data's own span; isodow−1 is Spark's weekday
    "q251_date_dim" ->
      s"""WITH b AS (
        |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        |  FROM events),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |    CAST(sum($centsV) AS BIGINT) AS value_cents
        |  FROM events GROUP BY 1)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(isodow(d.day) - 1 AS BIGINT) AS wd,
        |  CAST(isodow(d.day) >= 6 AS BIGINT) AS is_weekend,
        |  CAST(month(d.day) AS BIGINT) AS month,
        |  CAST(quarter(d.day) AS BIGINT) AS quarter,
        |  coalesce(n_events, 0) AS n_events,
        |  coalesce(value_cents, 0) AS value_cents
        |FROM days d LEFT JOIN daily ON d.day = daily.day
        |ORDER BY day""".stripMargin,
    // same symbolization and lead taps; concat_ws skips NULLs in both
    // engines so the length-4 gate is the shared tail guard
    "q249_sax_motifs" ->
      s"""WITH close AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, $centsV AS cents
        |  FROM events
        |  QUALIFY row_number() OVER (
        |    PARTITION BY event_type, CAST(ts AS DATE)
        |    ORDER BY ts DESC, event_id DESC) = 1),
        |sym AS (
        |  SELECT event_type, day,
        |    CASE WHEN prev IS NULL THEN NULL
        |         WHEN cents > prev THEN 'U'
        |         WHEN cents < prev THEN 'D'
        |         ELSE 'F' END AS s
        |  FROM (SELECT *, lag(cents) OVER (PARTITION BY event_type
        |          ORDER BY day) AS prev
        |        FROM close)),
        |f AS (SELECT * FROM sym WHERE s IS NOT NULL),
        |m AS (
        |  SELECT event_type,
        |    concat_ws('', s, lead(s, 1) OVER w, lead(s, 2) OVER w,
        |      lead(s, 3) OVER w) AS motif
        |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |c AS (
        |  SELECT event_type, motif, count(*) AS n
        |  FROM m WHERE length(motif) = 4 GROUP BY 1, 2)
        |SELECT event_type, motif, n,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, motif) AS BIGINT) AS motif_rank
        |FROM c
        |QUALIFY motif_rank <= 3
        |ORDER BY event_type, motif_rank""".stripMargin,
    // same exact-rational pair slopes; DuckDB's row_number/QUALIFY is the
    // engine's window, date_diff mirrors datediff(day, epoch)
    "q228_theilsen" ->
      s"""WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
        |    $centsV AS cents
        |  FROM events
        |  WHERE value IS NOT NULL
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, CAST(ts AS DATE)
        |    ORDER BY ts DESC, event_id DESC) = 1),
        |pairs AS (
        |  SELECT a.user_id AS user_id, a.di AS di_a, b.di AS di_b,
        |    b.cents - a.cents AS num_cents,
        |    CAST(b.di - a.di AS BIGINT) AS den_days,
        |    CAST(b.cents - a.cents AS DOUBLE) / CAST(b.di - a.di AS BIGINT)
        |      AS slope
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.di < b.di),
        |ranked AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY slope, di_a, di_b) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_pairs
        |  FROM pairs)
        |SELECT user_id, n_pairs, num_cents AS slope_num_cents,
        |  den_days AS slope_den_days,
        |  CAST(floor(1000000.0 * num_cents / den_days + 0.5) AS BIGINT)
        |    AS slope_e6
        |FROM ranked
        |WHERE rn = ${Rounding.intDivSql("n_pairs + 1", "2")}
        |ORDER BY user_id""".stripMargin,
    "q105_gapfill_ffill" ->
      s"""WITH obs0 AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, $centsV AS cents,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |obs AS (SELECT event_type, day, cents FROM obs0 WHERE rn = 1),
        |bounds AS (
        |  SELECT event_type, min(day) AS dmin, max(day) AS dmax
        |  FROM obs GROUP BY event_type),
        |grid AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(CAST(dmin AS TIMESTAMP),
        |      CAST(dmax AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.event_type, g.day, o.cents
        |  FROM grid g LEFT JOIN obs o
        |    ON g.event_type = o.event_type AND g.day = o.day)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  last_value(cents IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents,
        |  CAST(cents IS NOT NULL AS BIGINT) AS observed
        |FROM j ORDER BY event_type, day""".stripMargin,
    "q106_unpivot" -> {
      def m(metric: String, expr: String) =
        s"""SELECT l_orderkey, l_linenumber, '$metric' AS metric,
           |  ${Rounding.centsSql(expr)} AS cents
           |FROM lineitem WHERE l_orderkey % 97 = 0""".stripMargin
      s"""${m("quantity", "l_quantity")}
        |UNION ALL ${m("extendedprice", "l_extendedprice")}
        |UNION ALL ${m("discount", "l_discount")}
        |UNION ALL ${m("tax", "l_tax")}
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin
    },
    "q107_mad_outliers" ->
      s"""WITH e AS (
        |  SELECT event_type, event_id, $centsV AS cents FROM events),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM e),
        |med AS (
        |  SELECT event_type, cents AS median_cents
        |  FROM r1 WHERE rn = (cnt + 1) // 2),
        |dev AS (
        |  SELECT e.event_type, e.event_id,
        |    abs(e.cents - m.median_cents) AS adev, m.median_cents
        |  FROM e JOIN med m ON e.event_type = m.event_type),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY adev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM dev),
        |mad AS (
        |  SELECT event_type, adev AS mad_cents
        |  FROM r2 WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type,
        |  CAST(min(d.median_cents) AS BIGINT) AS median_cents,
        |  CAST(min(m.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CAST(d.adev > 3 * m.mad_cents AS BIGINT)) AS BIGINT)
        |    AS n_outliers,
        |  count(*) AS n
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q108_triangles" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
        |  WHERE year(l_shipdate) = 1995),
        |capped AS (
        |  SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
        |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
        |edges AS (
        |  SELECT DISTINCT a.pt AS u, b.pt AS v
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
        |deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |arcs AS (
        |  SELECT
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |      THEN e.u ELSE e.v END AS a,
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |      THEN e.v ELSE e.u END AS b
        |  FROM edges e
        |  JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM arcs x JOIN arcs y ON x.a = y.a AND x.b < y.b
        |  JOIN edges e ON e.u = x.b AND e.v = y.b),
        |nodes AS (SELECT count(*) AS n_nodes FROM deg)
        |SELECT n_nodes, (SELECT count(*) FROM edges) AS n_edges,
        |  n_triangles
        |FROM nodes, tri""".stripMargin,
    "q110_cum_distinct" ->
      """WITH f AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 AS BIGINT) AS first_flag
        |  FROM events)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  CAST(sum(first_flag) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types
        |FROM f ORDER BY event_id""".stripMargin,
    "q111_ohlc_bars" -> {
      s"""WITH e AS (
        |  SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bar,
        |    ts, event_id, $centsV AS cents
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bar
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, bar
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, bar,
        |  CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT)
        |    AS open_cents,
        |  CAST(max(cents) AS BIGINT) AS high_cents,
        |  CAST(min(cents) AS BIGINT) AS low_cents,
        |  CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT)
        |    AS close_cents,
        |  count(*) AS n_ticks,
        |  ${Rounding.sumCentsSql("cents")} AS sum_cents
        |FROM r GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin
    },
    "q112_twap" -> {
      s"""WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, event_id,
        |    $centsV AS cents, epoch_us(ts) AS us
        |  FROM events),
        |d AS (
        |  SELECT *,
        |    coalesce(
        |      lead(us) OVER (PARTITION BY event_type, day
        |        ORDER BY us, event_id),
        |      epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))) AS next_us
        |  FROM e),
        |w AS (
        |  SELECT event_type, day, cents,
        |    (next_us - us) // 1000000 AS dur_sec
        |  FROM d)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  ${Rounding.sumCentsSql("cents * dur_sec")} AS twap_num_centsec,
        |  ${Rounding.sumCentsSql("dur_sec")} AS twap_den_sec,
        |  count(*) AS n_obs
        |FROM w GROUP BY event_type, day ORDER BY event_type, day""".stripMargin
    },
    "q113_bfs_reach" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
        |  WHERE year(l_shipdate) = 1995),
        |capped AS (
        |  SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
        |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
        |edges AS (
        |  SELECT DISTINCT a.pt AS u, b.pt AS v
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
        |sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |walk(pt, dist) AS (
        |  SELECT DISTINCT u, CAST(0 AS BIGINT) FROM sym WHERE u % 100 = 0
        |  UNION
        |  SELECT s.v, w.dist + 1 FROM walk w JOIN sym s ON s.u = w.pt
        |  WHERE w.dist < 3)
        |SELECT pt, min(dist) AS dist FROM walk
        |GROUP BY pt ORDER BY pt""".stripMargin,
    "q109_scd2_pit" ->
      s"""WITH dim AS (
        |  SELECT user_id, ts AS valid_from, $centsV AS state_cents,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM events WHERE event_type = 'purchase'),
        |probe AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, d.state_cents
        |FROM probe p LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND d.valid_from <= p.ts
        |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |ORDER BY p.event_id""".stripMargin,
    "q120_daily_returns" ->
      s"""WITH closes0 AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, $centsV AS cents,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |closes AS (
        |  SELECT event_type, day, cents AS close_cents
        |  FROM closes0 WHERE rn = 1)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, close_cents,
        |  close_cents - lag(close_cents) OVER (PARTITION BY event_type
        |    ORDER BY day) AS ret_num_cents,
        |  lag(close_cents) OVER (PARTITION BY event_type ORDER BY day)
        |    AS ret_den_cents
        |FROM closes ORDER BY event_type, day""".stripMargin,
    "q122_ewma_dyadic" -> q122Sql,
    "q123_seasonal_baseline" ->
      s"""WITH e AS (
         |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         |    $centsV AS vc
         |  FROM events WHERE value IS NOT NULL),
         |b AS (
         |  SELECT event_type, hod, count(*) AS bn,
         |    ${Rounding.sumCentsSql("vc")} AS bs
         |  FROM e GROUP BY event_type, hod)
         |SELECT e.event_type, e.hod, min(bn) AS n,
         |  CAST(sum(CAST(e.vc * bn > bs * 2 AS BIGINT)) AS BIGINT)
         |    AS n_above
         |FROM e JOIN b USING (event_type, hod)
         |GROUP BY e.event_type, e.hod
         |ORDER BY e.event_type, e.hod""".stripMargin,
    "q124_forward_asof" ->
      s"""WITH clicks AS (
         |  SELECT event_id, user_id, ts FROM events
         |  WHERE event_type = 'click'),
         |buys AS (
         |  SELECT event_id, user_id, ts, $centsV AS cents FROM events
         |  WHERE event_type = 'purchase' AND value IS NOT NULL),
         |nxt AS (
         |  SELECT c.event_id, p.event_id AS np_eid, p.cents,
         |    row_number() OVER (PARTITION BY c.event_id
         |      ORDER BY p.ts, p.event_id) AS rn
         |  FROM clicks c JOIN buys p
         |    ON c.user_id = p.user_id AND p.ts >= c.ts)
         |SELECT c.event_id, c.user_id,
         |  n.np_eid AS next_purchase_eid, n.cents AS next_purchase_cents
         |FROM clicks c LEFT JOIN nxt n
         |  ON c.event_id = n.event_id AND n.rn = 1
         |ORDER BY c.event_id""".stripMargin,
    "q171_autocorr" ->
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, $centsV AS x
         |  FROM events WHERE value IS NOT NULL),
         |p AS (
         |  SELECT user_id, x,
         |    lead(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x1
         |  FROM e),
         |a AS (
         |  SELECT user_id,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(x) AS DOUBLE) AS sx,
         |    CAST(sum(x1) AS DOUBLE) AS sy,
         |    CAST(sum(x * x1) AS DOUBLE) AS sxy,
         |    CAST(sum(x * x) AS DOUBLE) AS sxx,
         |    CAST(sum(x1 * x1) AS DOUBLE) AS syy,
         |    CAST(sum(CAST(x * x1 AS DECIMAL(38,0))) AS BIGINT) AS sxy_c2
         |  FROM p WHERE x1 IS NOT NULL GROUP BY 1)
         |SELECT user_id, CAST(n AS BIGINT) AS n_pairs, sxy_c2,
         |  CASE WHEN n < 3 OR n * sxx - sx * sx = 0
         |      OR n * syy - sy * sy = 0 THEN NULL
         |    ELSE CAST(floor(((n * sxy - sx * sy) /
         |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
         |      * 1000000.0 + 0.5) AS BIGINT) END AS autocorr_e6
         |FROM a ORDER BY user_id""".stripMargin,
    "q126_rolling_corr" ->
      s"""WITH e AS (
         |  SELECT event_id, event_type, ts, $centsV AS x,
         |    CAST(length(props) AS BIGINT) AS y
         |  FROM events WHERE value IS NOT NULL AND props IS NOT NULL),
         |s AS (
         |  SELECT event_id,
         |    CAST(count(*) OVER w AS DOUBLE) AS n,
         |    CAST(sum(x) OVER w AS DOUBLE) AS sx,
         |    CAST(sum(y) OVER w AS DOUBLE) AS sy,
         |    CAST(sum(x * y) OVER w AS DOUBLE) AS sxy,
         |    CAST(sum(x * x) OVER w AS DOUBLE) AS sxx,
         |    CAST(sum(y * y) OVER w AS DOUBLE) AS syy
         |  FROM e
         |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
         |    ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
         |SELECT event_id, CAST(n AS BIGINT) AS n_frame,
         |  CASE WHEN n < 10 OR n * sxx - sx * sx = 0
         |      OR n * syy - sy * sy = 0 THEN NULL
         |    ELSE CAST(floor(((n * sxy - sx * sy) /
         |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
         |      * 1000000.0 + 0.5) AS BIGINT) END AS roll_corr_e6
         |FROM s ORDER BY event_id""".stripMargin,
    "q131_interpolate" ->
      s"""WITH obs0 AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, $centsV AS cents,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |obs AS (SELECT user_id, day, cents FROM obs0 WHERE rn = 1),
        |bounds AS (
        |  SELECT user_id, min(day) AS dmin, max(day) AS dmax
        |  FROM obs GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(dmin AS TIMESTAMP),
        |      CAST(dmax AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.day, o.cents
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.day = o.day),
        |w AS (
        |  SELECT user_id, day, cents,
        |    last_value(cents IGNORE NULLS) OVER wb AS v0,
        |    last_value(CASE WHEN cents IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wb AS t0,
        |    first_value(cents IGNORE NULLS) OVER wf AS v1,
        |    first_value(CASE WHEN cents IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wf AS t1
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |r AS (
        |  SELECT user_id, day,
        |    CAST(CASE WHEN cents IS NOT NULL THEN cents
        |      ELSE v0 * date_diff('day', day, t1)
        |         + v1 * date_diff('day', t0, day) END AS BIGINT) AS num0,
        |    CAST(CASE WHEN cents IS NOT NULL THEN 1
        |      ELSE date_diff('day', t0, t1) END AS BIGINT) AS den0,
        |    CAST(cents IS NOT NULL AS BIGINT) AS observed
        |  FROM w),
        |g AS (SELECT *, gcd(num0, den0) AS g FROM r)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  CAST(num0 // g AS BIGINT) AS interp_num,
        |  CAST(den0 // g AS BIGINT) AS interp_den,
        |  observed
        |FROM g ORDER BY user_id, day""".stripMargin,
    "q135_cusum" ->
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS t
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, count(*) AS dcount,
        |    ${Rounding.sumCentsSql("t")} AS stotal
        |  FROM daily GROUP BY 1),
        |c AS (
        |  SELECT d.event_type, d.day, tot.dcount,
        |    CAST(sum(CAST(d.t AS DECIMAL(24,0))
        |        * CAST(tot.dcount AS DECIMAL(8,0))
        |        - CAST(tot.stotal AS DECIMAL(31,0))) OVER (
        |      PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cusum
        |  FROM daily d JOIN tot USING (event_type)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cusum) DESC, day) AS rn
        |  FROM c)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS peak_day,
        |  cusum AS peak_cusum, dcount AS n_days
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)
}
