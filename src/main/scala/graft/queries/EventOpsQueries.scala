package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.{Hashing, Rounding}
import graft.operators.CheckpointBlocks.checkpoint

/** Event-stream operations every large-scale pipeline needs: deterministic
  * stratified sampling and gap-based sessionization. Both are pure
  * shuffle-friendly shapes — a hash-derived uniform for sampling (no RNG
  * state, reproducible across engines and runs) and one window pass for
  * sessions. */
object EventOpsQueries extends QueryPack {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Per-stratum deterministic sampling: uniform in [0,1) derived from
    * md5(event_id) (portable across engines, stable across runs — the
    * property `sample()`/rand() lacks), stratum rates by event_type.
    * At 100 TB this is a pure map-side filter: no shuffle, no state. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val u = Hashing.md5Uniform(col("event_id").cast("string"))
    val rate = when(col("event_type") === "purchase", 1.0)
      .when(col("event_type") === "click", 0.1)
      .when(col("event_type") === "view", 0.05)
      .otherwise(0.2)
    ev(s, dir)
      .filter(u < rate)
      .select(col("event_id"), col("event_type"), col("user_id"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (gap > 30 min ⇒ new session): lag + running
    * sum of session-start flags in one window pass per user, then a
    * per-session aggregate. The batch twin of the streaming session
    * windows in graft.streaming. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        (col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"))
          .cast("long"))
      .withColumn("session_idx", sum("new_sess").over(run))
      .groupBy("user_id", "session_idx")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_idx")
  }

  /** Skew-safe join, oracle-proven: the salted join's OUTPUT must be
    * byte-identical to the plain inner join (salting only changes reducer
    * placement), so the DuckDB oracle is the plain join + aggregate. The
    * salt spreads a hot key over `salts` reducers — the manual tool for
    * skew in aggregation-after-join or forced shuffle-hash plans, where
    * AQE's sort-merge skew split doesn't reach. Money sums are exact
    * fixed-point (Rounding.cents/sumExact): order-independent, so the
    * salt's nondeterministic ADDITION ORDER cannot flip a rounded sum. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{cents, roundf, sumExact}
    val events = ev(s, dir).select(col("user_id"), col("value"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.SaltedJoin(events, dim, "user_id", salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        roundf(sumExact(cents(col("value"))) / 100.0, 2).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  /** CDC merge, oracle-proven: a deterministic change batch (updates =
    * event_id % 7, bumped value + 1 h newer version; deletes = event_id
    * % 13, tombstones at the SAME version as the snapshot row — which
    * exercises the delta-wins tie rule) applied to the events snapshot
    * via operators.Merge. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.roundf
    val base = ev(s, dir)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val upd = base
      .filter(col("event_id") % 7 === 0 && col("event_id") % 13 =!= 0)
      .withColumn("value", col("value") + 100)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("_deleted", lit(false))
    val del = base.filter(col("event_id") % 13 === 0)
      .withColumn("_deleted", lit(true))
    graft.operators.Merge
      .upsert(base, upd.unionByName(del), Seq("event_id"), "ts")
      .select(col("event_id"), col("user_id"), col("event_type"),
        roundf(col("value"), 2).as("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .orderBy("event_id")
  }

  /** Rolling 1-hour per-user features — the range-frame workhorse of
    * feature engineering (count / exact cents sum of each user's events in
    * the trailing hour, one row per event). RANGE frames over an integer
    * epoch key are tie-safe by definition (all peers of an equal timestamp
    * share one frame), so the result is deterministic without an
    * event_id tiebreak; sums accumulate through decimal(38,0) and emerge
    * as BIGINT cents. One window pass partitioned by user — no
    * self-join-per-row formulation, which is the O(n²) trap this operator
    * exists to avoid. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ep")
      .rangeBetween(-3600L, 0L)
    ev(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ep"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("vc"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h_cents",
        sum(col("vc").cast("decimal(38,0)")).over(w).cast("long"))
      .select("event_id", "user_id", "ep", "n_1h", "sum_1h_cents")
      .orderBy("event_id")
  }

  /** Ordered-funnel census (view → click → purchase): how many users ever
    * viewed, clicked AFTER their first view, and purchased after that
    * qualifying click. Three cascaded window minimums over ONE
    * (user, ts, event_id) sort — each stage's "first qualifying time so
    * far" becomes a plain column the next window conditions on — so the
    * whole funnel costs a single shuffle+sort plus a per-user aggregate,
    * not the per-stage self-joins of the naive formulation. Shared SQL
    * text: Spark and DuckDB run exactly this; integer-only output. */
  private val q88Sql: String = {
    val w = """WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    s"""WITH s1 AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS fv
       |  FROM events
       |  $w),
       |s2 AS (
       |  SELECT user_id, ts, event_id, event_type, fv,
       |    min(CASE WHEN event_type = 'click' AND fv IS NOT NULL
       |             THEN ts END) OVER w AS fc
       |  FROM s1
       |  $w),
       |s3 AS (
       |  SELECT user_id, fv, fc,
       |    min(CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
       |             THEN ts END) OVER w AS fp
       |  FROM s2
       |  $w),
       |u AS (
       |  SELECT user_id,
       |    max(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS rv,
       |    max(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS rc,
       |    max(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS rp
       |  FROM s3 GROUP BY user_id)
       |SELECT count(*) AS users_total,
       |  CAST(sum(rv) AS BIGINT) AS users_view,
       |  CAST(sum(rc) AS BIGINT) AS users_view_click,
       |  CAST(sum(rp) AS BIGINT) AS users_full_funnel
       |FROM u""".stripMargin
  }

  private def q88(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.run(s, dir, q88Sql)

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row draws key = u^(1/w) from its deterministic md5-uniform and
    * the global top-k keys win — purchases (w=4) are 4× likelier per unit
    * than views. The weights are restricted to powers of two so u^(1/w)
    * is an ITERATED SQRT — IEEE sqrt is correctly rounded, so both
    * engines compute bit-identical keys and the sample membership cannot
    * flip on a ulp (pow()'s libm variance is exactly what this dodges).
    * Top-k lands in TakeOrderedAndProject: map-side k-truncation, no
    * global sort, no RNG state — reproducible at any scale. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val u = Hashing.md5Uniform(col("event_id").cast("string"))
    val key = when(col("event_type") === "purchase", sqrt(sqrt(u)))
      .when(col("event_type") === "click", sqrt(u))
      .otherwise(u)
    ev(s, dir)
      .select(col("event_id"), col("event_type"), key.as("k"))
      .orderBy(col("k").desc, col("event_id"))
      .limit(200)
      .select(col("event_id"), col("event_type"),
        expr("CAST(floor(k * 1000000000000.0 + 0.5) AS BIGINT)")
          .as("key_e12"))
  }

  /** Weekly cohort retention: users bucketed by first-active week, counted
    * at each later week they return. The triangle every growth/engagement
    * dashboard is built from — and, for a training pipeline, the shape
    * that audits contributor churn in a crawl corpus. One distinct over
    * (user, week) then a window-min per user (no self-join with a
    * first-seen table — the window reuses the same user_id shuffle the
    * distinct already paid for), then one aggregate on (cohort, offset).
    * Both engines truncate weeks to Monday midnight, so the day-diff is an
    * exact multiple of 7 and the integer offset is division-safe. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val wk = ev(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val w0 = min("wk").over(Window.partitionBy("user_id"))
    wk.withColumn("w0", w0)
      .groupBy(date_format(col("w0"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("wk"), col("w0")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Click→purchase conversion survival census (the discrete-time
    * Kaplan–Meier table a growth team reads): for each day-offset d in
    * 0..14, how many first-click users were still unconverted entering
    * day d (at risk — never-converters stay at risk through the horizon)
    * and how many converted exactly on day d, plus the exact-ppm discrete
    * hazard. Two bounded keyed aggregations (first click, first purchase
    * at-or-after it), one tiny delay histogram (≤ horizon+2 rows), and
    * the day grid joins THAT — the fact table never meets the grid, so
    * the query's post-aggregation cost is O(horizon²) regardless of data
    * scale. All counts integer; hazard via
    * [[graft.functions.Rounding.intDivExact]]. */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val e = ev(s, dir)
    val fc = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("fc"))
    val fp = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(fc, "user_id")
      .filter(col("ts") >= col("fc"))
      .groupBy("user_id").agg(min("ts").as("fp"))
    val delays = fc.join(fp, Seq("user_id"), "left")
      .select(coalesce(datediff(to_date(col("fp")), to_date(col("fc")))
        .cast("long"), lit(-1L)).as("delay"))
    val hist = delays.groupBy("delay").agg(count(lit(1)).as("n"))
    val grid = s.range(0, 15).select(col("id").as("day"))
    grid.crossJoin(broadcast(hist))
      .groupBy("day")
      .agg(
        sum(when(col("delay") === col("day"), col("n")).otherwise(0L))
          .cast("long").as("n_converted"),
        sum(when(col("delay") >= col("day") || col("delay") === -1L,
          col("n")).otherwise(0L)).cast("long").as("n_at_risk"))
      .withColumn("hazard_ppm",
        when(col("n_at_risk") > 0L,
          intDivExact(
            col("n_converted").cast("decimal(38,0)") * lit(1000000L),
            col("n_at_risk"))))
      .select("day", "n_at_risk", "n_converted", "hazard_ppm")
      .orderBy("day")
  }

  /** Gaps-and-islands consecutive-day streak census per user — the
    * engagement statistic behind "longest run of daily activity" (and, for
    * a crawl corpus, contributor-continuity auditing). The classic
    * dayNumber − row_number() grouping key: consecutive days share one
    * group, any gap starts a new one — computed in a single window pass
    * over the DISTINCT (user, day) table (which collapses the raw stream
    * first, so the window sorts O(users·days), not O(events)), then two
    * cheap aggregations on the same user partitioning. Day numbers are
    * exact integer day-diffs from a fixed epoch, so the island key is pure
    * integer arithmetic in both engines. The explicit user_id repartition
    * BEFORE the distinct puts the whole query on one exchange: a
    * user_id-hash partitioning satisfies the distinct's (user, day)
    * clustering (subset rule), the window's, and both groupBys' — without
    * it the plan pays a (user, day) exchange AND a user exchange. */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("dn")
    val days = ev(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("dn"))
      .repartition(col("user_id"))
      .distinct()
    days.withColumn("grp", col("dn") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").cast("long").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").cast("long").as("longest_streak"))
      .orderBy("user_id")
  }

  /** Bitmap-index construction over daily activity: each user's calendar
    * month as ONE 64-bit mask (bit d set ⇔ active on day-number d), built
    * by a `bit_or` aggregate — the bitmap-index build step of a columnar
    * engine, and the O(1)-per-row set representation that makes segment
    * membership queries (AND/OR of masks) free downstream. One distinct +
    * one aggregation; the mask IS the compressed posting list, so the
    * shuffle carries 8 bytes per (user, month-window), not a day list.
    * Day numbers are clamp-checked into [0, 62] so the shift is always
    * defined; popcount/min/max ride along as plain integers. */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    // q188's one-exchange discipline: user_id partitioning serves the
    // distinct (subset rule) and the mask aggregation alike
    val days = ev(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("dn"))
      .repartition(col("user_id"))
      .distinct()
      .filter(col("dn").between(0, 62))
    days.groupBy("user_id")
      .agg(
        expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(dn AS INT)))")
          .as("days_mask"),
        count(lit(1)).as("n_active_days"),
        min("dn").as("first_dn"), max("dn").as("last_dn"))
      .withColumn("mask_popcount", bit_count(col("days_mask")).cast("long"))
      .orderBy("user_id")
  }

  /** Watermark-delay calibration — the batch census that answers the ONE
    * question every Structured Streaming job in streaming/StreamingOps
    * must answer before choosing `withWatermark`: how out-of-order is
    * this stream actually? Arrival order is event_id (the generator's
    * ingestion sequence); per type, an event's lateness is the running
    * max event-time over everything that arrived before it minus its own
    * event-time (exact integer µs — a late event has lateness > 0).
    * Emitted per type: volume, late share, the max, and exceedance
    * counts at the 1-minute and 5-minute candidate delays — pick the
    * watermark as the smallest candidate whose exceedance you can afford
    * to drop. One window shuffle on event_type + a 5-row rollup. */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us", max("us").over(w) - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum((col("late_us") > 0L).cast("long")).cast("long").as("n_late"),
        max("late_us").as("max_late_us"),
        sum((col("late_us") > 60000000L).cast("long")).cast("long")
          .as("n_late_1m"),
        sum((col("late_us") > 300000000L).cast("long")).cast("long")
          .as("n_late_5m"))
      .orderBy("event_type")
  }

  /** Timed conversion funnel — q88 checks step ORDER (view before click
    * before purchase, anywhere in the user's history); real funnel
    * analytics bound each hop with a conversion WINDOW: a view converts
    * only if a click follows within 1 hour, and the funnel completes
    * only if a purchase follows THAT CLICK within another hour. Both
    * hops resolve in ONE user-keyed exchange via the q88/q124 cascade:
    * the first unbounded-following window carries each row's
    * next-purchase time backwards, the second picks each row's earliest
    * following click AS A STRUCT (c_us, that click's next-purchase) —
    * min over the struct is the argmin on click time carrying its
    * purchase payload, so the chained constraint never needs a
    * self-join. Null next-purchase rides as a Long.MaxValue sentinel so
    * struct min stays total and the second hop simply fails. Rates per
    * view-hour on the exact e6 grid. Timestamps compare as unix_micros
    * under the pinned UTC session; (us, event_id) makes the stream
    * order total. */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val hourUs = 3600000000L
    val e = ev(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("ts"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    val withNext = e
      .withColumn("np_us",
        min(when(col("event_type") === "purchase", col("us"))).over(w))
      .withColumn("nc",
        min(when(col("event_type") === "click",
          struct(col("us").as("c_us"),
            coalesce(col("np_us"), lit(Long.MaxValue)).as("p_us"))))
          .over(w))
    val clicked = col("nc").isNotNull &&
      col("nc.c_us") - col("us") <= hourUs
    val full = clicked && col("nc.p_us") - col("nc.c_us") <= hourUs
    withNext.filter(col("event_type") === "view")
      .select(hour(col("ts")).cast("long").as("hr"),
        clicked.cast("long").as("c"), full.cast("long").as("f"))
      .groupBy("hr")
      .agg(count(lit(1)).as("n_views"), sum("c").as("n_clicked_1h"),
        sum("f").as("n_full_funnel"))
      .withColumn("click_rate_e6",
        intDivExact(col("n_clicked_1h").cast("decimal(19,0)")
          * lit(1000000L), col("n_views")))
      .withColumn("full_rate_e6",
        intDivExact(col("n_full_funnel").cast("decimal(19,0)")
          * lit(1000000L), col("n_views")))
      .orderBy("hr")
  }

  /** U-shaped (position-based) multi-touch attribution — the marketing
    * shape q25/q61's last-click cannot express: every purchase splits
    * exactly 1,000,000 micro-credits across ALL its prior touches
    * (clicks/views, strictly before, ≤ 7 days back): 40% to the first
    * touch, 40% to the last, 20% split over the middles. A single
    * touch takes everything, two touches split 50/50, and a purchase
    * with no touch window credits a synthetic 'direct' channel — so
    * Σcredit ≡ 10⁶ · n_purchases EXACTLY, an invariant the hash check
    * enforces. Division is [[Rounding.intDiv]] with the remainder
    * pinned to the first middle touch (deterministic by construction,
    * same rule both engines). Shape: one user-keyed join bounded by
    * the 7-day window (per-user fan-out is activity² within a week —
    * the q49 range-join family, never a global product), then two
    * per-purchase windows and a 3-group rollup. */
  private def q233(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val e = ev(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"), col("ts").as("t_ts"))
    val joined = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy("p_id").orderBy(col("t_ts"), col("t_id"))
    val wc = Window.partitionBy("p_id")
    val share = intDiv(lit(200000L), col("k") - lit(2L))
    val leftover = lit(200000L) - share * (col("k") - lit(2L))
    val credit = when(col("k") === 1L, lit(1000000L))
      .when(col("k") === 2L, lit(500000L))
      .otherwise(when(col("rn") === 1L || col("rn") === col("k"),
        lit(400000L))
        .otherwise(share +
          when(col("rn") === 2L, leftover).otherwise(lit(0L))))
    // (r20: a localCheckpoint here — touched feeds the union AND the
    // direct anti-join — measured 1.16× SLOWER at sf0.1: ReuseExchange
    // already shares the join's exchanges and the barrier only added a
    // materialization stop. Left lazy deliberately.)
    val touched = joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("k", count(lit(1)).over(wc))
      .select(col("p_id"), col("touch_type"), credit.as("credit"))
    val direct = purchases
      .join(touched.select("p_id").distinct(), Seq("p_id"), "left_anti")
      .select(col("p_id"), lit("direct").as("touch_type"),
        lit(1000000L).as("credit"))
    touched.unionByName(direct)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_credits"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum(col("credit").cast("decimal(38,0)")).cast("long")
          .as("credit_e6"))
      .orderBy("touch_type")
  }

  /** Identity stitching (entity resolution) — the user-data dedup shape
    * every privacy/training pipeline runs before per-user anything:
    * users sharing a linking key merge into one identity cluster via
    * connected components over the bipartite share graph. The key is
    * the composite fingerprint k·10⁸ + cents(value) — the (attribute,
    * amount) coincidence that plays the role a device id / email hash /
    * payment token plays in production (the raw `k` alone is useless
    * here: every k is shared by ~60 users, i.e. ALL hub keys). The
    * load-bearing guard is the HUB-KEY GATE: a key shared by many users
    * (the "admin@example.com" / NAT-IP problem) would both explode the
    * pair fan-out AND glue the graph into one meaningless blob, so only
    * keys shared by 2–3 distinct users link (df-gate before any posting
    * list is buffered — the q41 two-pass discipline; singleton keys
    * link nothing and are dropped losslessly). Clustering is
    * [[graft.operators.ConnectedComponents]] (O(edges)/round); output
    * is the per-user identity assignment with the min-id canonical
    * flag, the q67 contract on users instead of documents.
    *
    * Scale observation the output itself teaches: at sf0.01 the graph
    * stitches 150 users into 105 identities; at sf0.1 the same
    * single-shared-key evidence over-merges 1500 users into 3 blobs —
    * the textbook transitive-closure hazard of weak pairwise evidence.
    * The production hardening (require ≥ 2 shared keys per PAIR before
    * an edge exists) is one aggregation away on the `pairs` relation;
    * it is deliberately NOT applied here because at the oracle's gate
    * SF it leaves zero edges — the census keeps the weak-evidence form
    * so both regimes stay visible. */
  /** (user_id, identity_id) cluster assignment — q244's machinery,
    * shared with q247's survivorship pass and q275's stitched sessions.
    *
    * Memoized per (session, dir) via [[graft.operators.SessionDirMemo]]
    * (two-slot LRU, eager localCheckpoint — see its scaladoc for why the
    * slot, not a weak map, is the honest retention bound), the
    * cross-query analogue of q263's pairs materialization
    * ([[ScaleQueries]]): the CC run costs ~2s at
    * sf0.1 and feeds THREE standalone queries, so rebuilding it per
    * consumer triples the cost for bit-identical output (the build is
    * deterministic — sorted collect_set, min-id CC labels). The checkpoint
    * holds one row per user (user-scale, not event-scale). Each query
    * still stands alone for the oracle — a cold call builds
    * everything. */
  private val identityMemo = new graft.operators.SessionDirMemo[DataFrame]

  private def identityClusters(s: SparkSession, dir: String): DataFrame =
    identityMemo.get(s, dir) {
      identityClustersBuild(s, dir) // a projection of CC's checkpoint
    }

  private def identityClustersBuild(s: SparkSession, dir: String): DataFrame = {
    val uk = ev(s, dir)
      .select(col("user_id"),
        (regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long") *
          lit(100000000L) + Rounding.cents(col("value"))).as("k"))
      .filter(col("k").isNotNull)
      .distinct()
    val rare = uk.groupBy("k").agg(count(lit(1)).as("nu"))
      .filter(col("nu").between(2, 3))
      .select("k")
    val pairs = uk.join(rare, "k")
      .groupBy("k")
      .agg(sort_array(collect_set(col("user_id"))).as("us"))
      .select(explode(expr(
        "flatten(transform(us, x -> transform(filter(us, y -> y > x), " +
          "y -> named_struct('a', x, 'b', y))))")).as("p"))
      .select(col("p.a"), col("p.b")).distinct()
    val nodes = ev(s, dir).select(col("user_id")).distinct()
    graft.operators.ConnectedComponents
      .components(nodes, pairs, "user_id", "a", "b")
      .select(col("id").as("user_id"), col("comp").as("identity_id"))
  }

  private def q244(s: SparkSession, dir: String): DataFrame =
    identityClusters(s, dir)
      .withColumn("is_canonical", col("user_id") === col("identity_id"))
      .orderBy("user_id")

  /** Per-session ML feature table — the feature-engineering artifact a
    * churn/intent model trains on: q63's gap-sessionization frame
    * (30-min gap, same deterministic (ts, event_id) order) rolled into
    * one row per session with exact-integer features only — event
    * count, µs duration (unix_micros ↔ epoch_us, the q85 floor
    * discipline), distinct-type count, per-type pivot counts, and the
    * cents value total through decimal(38,0). One window pass + one
    * aggregate, both keyed by user — no new exchange shapes beyond
    * q63's. */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def typed(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    ev(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        (col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"))
          .cast("long"))
      .withColumn("session_idx", sum("new_sess").over(run))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", Rounding.cents(col("value")))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        (max("us") - min("us")).as("duration_us"),
        countDistinct("event_type").as("n_types"),
        typed("click"), typed("view"), typed("purchase"),
        typed("error"), typed("signup"),
        sum(col("cents").cast("decimal(38,0)")).cast("long")
          .as("value_cents"))
      .orderBy("user_id", "session_idx")
  }

  /** Burst census — the batch, oracle-checked twin of the streaming
    * [[graft.streaming.StreamingOps.burstDetect]] (which a ScalaTest
    * covers but no independent engine can replay): an event COMPLETES a
    * burst when it and its two predecessors fall within 10 seconds
    * (ts − lag(ts, 2) ≤ 10 s — same n = 3 / window contract as the
    * streaming op). Per user: total events, burst completions, and the
    * tightest 3-event span in µs (exact integers; min over a lag
    * difference). One window pass + one aggregate per user. */
  private def q246(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("span_us", col("us") - lag("us", 2).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("span_us") <= 10000000L, 1L).otherwise(0L))
          .as("n_bursts"),
        min("span_us").as("min_span_us"))
      .orderBy("user_id")
  }

  /** Survivorship (golden record) — the step AFTER q244's identity
    * stitching that every master-data pipeline runs: collapse each
    * identity cluster to ONE record, each field by its own survivorship
    * rule — earliest first-seen, latest last-seen, exact cents lifetime
    * value, and the dominant event type by the deterministic
    * (max count, lexicographic) argmax (min-struct trick — no window).
    * Cluster assignment is shared with q244 (identityClusters); the
    * rollup is events joined to the assignment BY KEY and aggregated
    * per identity — two exchanges, both on user-scale keys. */
  private def q247(s: SparkSession, dir: String): DataFrame = {
    val cl = identityClusters(s, dir)
    val e = ev(s, dir).join(cl, "user_id")
      .withColumn("cents", Rounding.cents(col("value")))
    val base = e.groupBy("identity_id")
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("first_seen"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("last_seen"),
        sum(col("cents").cast("decimal(38,0)")).cast("long")
          .as("lifetime_cents"))
    val dom = e.groupBy("identity_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy("identity_id")
      .agg(min(struct((-col("n")).as("nn"), col("event_type").as("t")))
        .as("m"))
      .select(col("identity_id"), col("m.t").as("dominant_type"))
    base.join(dom, "identity_id").orderBy("identity_id")
  }

  /** Capped running balance (Lindley recursion) — the stateful-looking
    * scan that is secretly windowable: B_t = max(0, B_{t−1} + d_t)
    * looks like it needs a per-row fold ([[graft.operators.PrefixScan]]
    * territory), but Lindley's identity B_t = S_t − min(0, min_{k≤t}
    * S_k) rewrites it as a plain running sum + running min — two framed
    * window passes per user, fully parallel, no mapPartitions. (The
    * queueing-theory waiting-time recursion; the same identity powers
    * "inventory can't go negative" and "drawdown-reset P&L" ledgers.)
    * Deltas: purchases credit cents, errors debit cents. Per user the
    * output is the ledger summary — move count, final balance, peak
    * balance, and how much debit the floor absorbed (exact integers
    * all the way). */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val delta = when(col("event_type") === "purchase",
        Rounding.cents(col("value")))
      .when(col("event_type") === "error", -Rounding.cents(col("value")))
      .otherwise(lit(0L))
    ev(s, dir)
      .withColumn("d", delta)
      .withColumn("s_run", sum("d").over(run))
      .withColumn("m_run", least(min("s_run").over(run), lit(0L)))
      .withColumn("bal", col("s_run") - col("m_run"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_moves"),
        max(struct(col("ts"), col("event_id"), col("bal"))).getField("bal")
          .as("final_balance"),
        max("bal").as("peak_balance"),
        (-min("m_run")).as("floor_absorbed"))
      .orderBy("user_id")
  }

  /** Stationary distribution of the event-type Markov chain — "where
    * does a user's journey settle": q137's transition counts become a
    * row-stochastic matrix (kept RATIONAL — c_ij/r_i never materializes
    * as a float) and the power iteration runs in the q97 int64
    * fixed-point discipline: total mass T = 10¹², each round
    * π'_j = Σ_i ⌊π_i·c_ij / r_i⌋ with the product widened through
    * decimal(38,0) (π·c ≈ 10¹⁸ brushes int64). Four unrolled rounds —
    * the 5-state chain mixes fast, and the oracle replays the identical
    * rounds as chained CTEs, so both engines drop the identical
    * rounding mass. Per round: one keyed join + one groupBy, O(edges)
    * — the PageRank plan on a 25-edge graph, same shape at any state
    * count. */
  private def q255(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = ev(s, dir)
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("c"))
    val rows = trans.groupBy("src").agg(sum("c").as("r"))
    // Checkpoint-hygiene audit vs the CC lineage-re-anchoring standard
    // (r12 verdict item 4): the four power-iteration rounds embed this
    // subtree — whose lineage is the per-user WINDOW SCAN over all
    // events — once per round, so the unanchored plan re-listed it 4×
    // (70 static shuffles) and only runtime ReuseExchange kept the scan
    // from actually executing 4×. One eager checkpoint HERE makes the
    // single-scan guarantee structural (10 shuffles; the event scan can
    // never re-run at any scale). Per-round checkpointing, the full CC
    // treatment, is deliberately NOT applied: π grows the plan linearly
    // (each round references the previous π once, not twice) and holds
    // one row per STATE (event types, ~5) — four materialization
    // barriers would buy nothing and cost 4 scheduler round-trips.
    val e = checkpoint(trans.join(rows, "src"))
    val states = e.select(col("src").as("state"))
      .union(e.select(col("dst"))).distinct()
    val total = 1000000000000L
    val n = states.count() // tiny action: the state count as a literal
    var pi = states.withColumn("mass", lit(total / n))
    for (_ <- 1 to 4) {
      val contrib = e.join(pi, e("src") === pi("state"))
        .select(col("dst"), intDivExact(
          col("mass").cast("decimal(38,0)") * col("c"), col("r")).as("m"))
        .groupBy("dst")
        .agg(sum(col("m").cast("decimal(38,0)")).cast("long").as("mass"))
      pi = states.join(contrib, states("state") === contrib("dst"), "left")
        .select(col("state"), coalesce(col("mass"), lit(0L)).as("mass"))
    }
    pi.select(col("state").as("event_type"), col("mass"))
      .orderBy("event_type")
  }

  /** Two-proportion A/B significance test, square-root-free and
    * float-free — the experimentation-platform readout: users split
    * into deterministic variants by the md5 coin (reproducible — the
    * q62 discipline), the metric is user-level "power buyer" conversion (≥ 15
    * purchases — the raw any-purchase rate saturates at 100% on this
    * corpus and would test nothing), and
    * the pooled z-test at α = 0.05 uses z = 1.96 = 49/25 EXACTLY, so
    * z² = 2401/625 and the whole test is one integer inequality:
    * 625·(x_a·n_b − x_b·n_a)²·N > 2401·n_a·n_b·X·(N−X) (X = x_a+x_b,
    * N = n_a+n_b) — the q253 multiply-through trick applied to the
    * two-sample test, products widened through decimal(38,0)/HUGEINT
    * (exact to ~5·10⁸ users per variant; beyond that, split the
    * inequality or go 128-bit offline). Winner is the sign of the
    * cross difference, only when significant. */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    val perUser = ev(s, dir)
      .select(col("user_id"),
        (col("event_type") === "purchase").cast("long").as("p"))
      .groupBy("user_id")
      .agg((sum("p") >= 15L).cast("long").as("converted"))
      .withColumn("variant",
        when(Hashing.md5U32(col("user_id").cast("string")) % 2L === 0L,
          "A").otherwise("B"))
    val agg = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("converted").as("x"))
    val a = agg.filter(col("variant") === "A")
      .select(col("n").as("n_a"), col("x").as("x_a"))
    val b = agg.filter(col("variant") === "B")
      .select(col("n").as("n_b"), col("x").as("x_b"))
    val d = (col("x_a").cast("decimal(38,0)") * col("n_b") -
      col("x_b").cast("decimal(38,0)") * col("n_a"))
    val bigN = (col("n_a") + col("n_b")).cast("decimal(38,0)")
    val bigX = (col("x_a") + col("x_b")).cast("decimal(38,0)")
    val lhs = lit(625L) * d * d * bigN
    val rhs = lit(2401L) * col("n_a").cast("decimal(38,0)") * col("n_b") *
      bigX * (bigN - bigX)
    a.crossJoin(b)
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        (lhs > rhs).cast("long").as("significant"),
        when(lhs > rhs && d > 0, "A")
          .when(lhs > rhs && d < 0, "B")
          .otherwise("none").as("winner"))
  }

  /** Group-sequential A/B monitoring table — the "peek every day
    * without lying to yourself" ledger an experimentation platform
    * renders: per calendar day k of K, the cumulative per-arm converter
    * counts (a user converts on the day of their 15th purchase — the
    * q256 criterion made temporal), the two-proportion z² on the e6
    * grid, and whether the running statistic crosses an
    * O'Brien–Fleming-SHAPED boundary z²_k ≥ C²·K/k (early looks need
    * overwhelming evidence, the final look needs C alone; C = 2.24 ⇒
    * C² = 3136/625 exactly, so the crossing test is the pure-integer
    * cross-multiplication 625·d²·N·k ≥ 3136·K·n_a·n_b·X·(N−X) — the
    * q256 discipline with the spending shape folded into the
    * rationals; no sqrt, no float, no alpha table). Denominators are
    * the full enrolled arms (every user is in from day one on this
    * corpus). Degenerate days (no converters yet, or everyone
    * converted) carry NULL z² and crossed = 0. On the null coin split
    * the table never crosses — the calibration read. Day grid and
    * running sums are calendar-bounded windows. */
  private def q315(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val convDay = ev(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("k", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("k") === 15L)
      .select(col("user_id"), to_date(col("ts")).as("conv_day"))
    val arm = when(
      Hashing.md5U32(col("user_id").cast("string")) % 2L === 0L, "A")
      .otherwise("B")
    val armSizes = ev(s, dir).select(col("user_id")).distinct()
      .select(col("user_id"), arm.as("g"))
      .groupBy()
      .agg(sum(when(col("g") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === "B", 1L).otherwise(0L)).as("nb"))
    val daily = convDay
      .select(col("conv_day"), arm.as("g"))
      .groupBy("conv_day")
      .agg(sum(when(col("g") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === "B", 1L).otherwise(0L)).as("cb"))
    val grid = ev(s, dir).select(to_date(col("ts")).as("day")).distinct()
    val wd = Window.orderBy("day") // calendar-bounded
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .join(daily, grid("day") === daily("conv_day"), "left")
      .select(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("xa", sum("ca").over(wd))
      .withColumn("xb", sum("cb").over(wd))
      .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
      // k_total from the SAME bounded window pass — a separate agg +
      // crossJoin would re-execute the whole cum chain a second time
      .withColumn("kt", max("k").over(
        Window.orderBy("day").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .crossJoin(broadcast(armSizes))
    val d = (col("xa").cast("decimal(38,0)") * col("nb") -
      col("xb").cast("decimal(38,0)") * col("na"))
    val bigN = (col("na") + col("nb")).cast("decimal(38,0)")
    val bigX = (col("xa") + col("xb")).cast("decimal(38,0)")
    val den = col("na").cast("decimal(38,0)") * col("nb") * bigX *
      (bigN - bigX)
    // ok also demands both arms populated: a one-arm "experiment" must
    // read as no-verdict, not as a crossed boundary (den = 0 would be
    // Spark-NULL vs DuckDB-error — the q301/q302 parity class)
    val ok = col("na") > 0L && col("nb") > 0L && bigX > 0 && bigX < bigN
    cum
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("k"), col("kt").as("k_total"),
        col("xa"), col("xb"), col("na"), col("nb"),
        when(ok, intDivExact(lit(1000000L) * d * d * bigN, den))
          .otherwise(lit(null).cast("long")).as("z2_e6"),
        when(ok, (lit(625L) * d * d * bigN * col("k") >=
          lit(3136L) * col("kt") * den).cast("long"))
          .otherwise(lit(0L)).as("crossed"))
      .orderBy("day")
  }

  /** LTV tenure curve — revenue by user AGE rather than by calendar
    * (the cohort-normalized view that makes acquisition vintages
    * comparable): each purchase lands in its user's tenure week
    * (⌊days-since-first-event / 7⌋, exact integer), and per tenure week
    * the census reports active purchasers, exact cents revenue, and
    * ARPU on the e2 grid (round-half-up exact rational). The
    * first-event join is user-keyed; weeks are span-bounded. The
    * DECLINING curve tail is the churn signal finance reads off this
    * exact table. */
  private def q291(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{intDiv, intDivExact}
    val first = ev(s, dir).groupBy("user_id")
      .agg(to_date(min("ts")).as("first_day"))
    ev(s, dir)
      .filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .withColumn("tenure_week",
        intDiv(datediff(to_date(col("ts")), col("first_day"))
          .cast("long"), lit(7L)))
      .withColumn("cents", Rounding.cents(col("value")))
      .groupBy("tenure_week")
      .agg(countDistinct("user_id").as("n_purchasers"),
        count(lit(1)).as("n_purchases"),
        Rounding.sumCents(col("cents")).as("revenue_cents"))
      .withColumn("arpu_cents_e2", intDivExact(
        col("revenue_cents").cast("decimal(38,0)") * lit(200L) +
          col("n_purchasers"),
        lit(2L) * col("n_purchasers")))
      .orderBy("tenure_week")
  }

  /** Experiment power table (minimum-detectable-effect planner) — the
    * question asked BEFORE q256's test is run: at the observed
    * power-buyer base rate, how many users per arm does each target
    * absolute lift need at α = 0.05 / power 0.8? The two-proportion
    * approximation n = 2·(z₀.₉₇₅ + z₀.₈)²·p(1−p)/δ² with the constant
    * (1.96…+0.84…)² = 7.848879809747528 as a shared literal; p(1−p)
    * enters as the exact integer x(n−x)/n², δ as the exact rational
    * d/100, so both engines run the identical few double ops and one
    * ceil. Emitted per candidate MDE (1–5 points) with the available
    * per-arm size and the feasibility verdict — the go/no-go table an
    * experimentation platform renders. */
  private def q290(s: SparkSession, dir: String): DataFrame = {
    val k2x2 = 15.697759619495056 // 2 · (z_{0.975} + z_{0.8})²
    val base = ev(s, dir)
      .select(col("user_id"),
        (col("event_type") === "purchase").cast("long").as("p"))
      .groupBy("user_id")
      .agg((sum("p") >= 15L).cast("long").as("converted"))
      .groupBy()
      .agg(count(lit(1)).as("n"), sum("converted").as("x"))
    val sess = s
    import sess.implicits._
    val mdes = Seq(1L, 2L, 3L, 4L, 5L).toDF("mde_pct")
    base.crossJoin(broadcast(mdes))
      .select(col("mde_pct"), col("n").as("n_users"), col("x")
        .as("n_converted"),
        ceil(lit(k2x2) *
          (col("x") * (col("n") - col("x"))).cast("double") *
          lit(10000.0) /
          (col("n").cast("double") * col("n") * col("mde_pct") *
            col("mde_pct")))
          .cast("long").as("required_per_arm"))
      .withColumn("available_per_arm",
        graft.functions.Rounding.intDiv(col("n_users"), lit(2L)))
      .withColumn("feasible",
        (col("available_per_arm") >= col("required_per_arm"))
          .cast("long"))
      .orderBy("mde_pct")
  }

  /** Distribution-free mean-value confidence band per event type —
    * Hoeffding's inequality instead of a bootstrap (no resampling RNG
    * to make portable, no normality assumption): with n observations
    * bounded on a range R, |mean − µ| ≤ R·√(ln(2/δ)/(2n)) with
    * probability 1 − δ. At δ = 0.05 the √-argument constant ln(40)/2 =
    * 1.8444397270569681 is a shared literal; R = max − min is exact
    * cents; n is exact; one correctly-rounded sqrt and one multiply
    * per GROUP (not per row) are the only float ops, identical in both
    * engines. Emitted: the exact mean as a (sum, n) integer pair (the
    * q112 discipline) plus the integer half-width — the honest
    * "don't trust day-one dashboards" band. */
  private def q283(s: SparkSession, dir: String): DataFrame = {
    val c = 1.8444397270569681 // ln(2/0.05) / 2
    ev(s, dir)
      .withColumn("cents", Rounding.cents(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        Rounding.sumCents(col("cents")).as("sum_cents"),
        (max("cents") - min("cents")).as("range_cents"))
      .withColumn("half_width_cents",
        floor(col("range_cents") *
          sqrt(lit(c) / col("n")) + lit(0.5)).cast("long"))
      .orderBy("event_type")
  }

  /** Conversion rate by session ENTRY type — the landing-page question
    * ("sessions that start with X convert how often?"): q63's gap
    * sessions, each labeled by its first event's type (deterministic
    * (ts, event_id) order) and whether it contains a purchase, rolled
    * up per entry type with the exact e4 rate. The product-analytics
    * complement of q88's step funnel: same machinery, the grouping key
    * is where the journey BEGAN. */
  private def q284(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        (col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"))
          .cast("long"))
      .withColumn("session_idx", sum("new_sess").over(run))
      .groupBy("user_id", "session_idx")
      .agg(min(struct(col("ts"), col("event_id"),
        col("event_type").as("et"))).getField("et").as("entry_type"),
        max((col("event_type") === "purchase").cast("long"))
          .as("converted"))
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum("converted").as("n_converted"))
      .withColumn("conv_e4", intDivExact(
        col("n_converted").cast("decimal(38,0)") * lit(20000L) +
          col("n_sessions"),
        lit(2L) * col("n_sessions")))
      .orderBy("entry_type")
  }

  /** Active-time coverage per user — "what fraction of the observation
    * window was this user actually active": each event claims a
    * 5-minute activity interval [ts, ts + 5 min], overlapping claims
    * union through [[graft.operators.IntervalMerge]] (the q78
    * gaps-and-islands machinery, per-user partitions), and coverage is
    * the exact µs ratio of merged activity to the corpus-wide window —
    * double-counting-free by construction, which a naive
    * n_events × 5 min estimate is not. All integer µs; the global
    * window is a broadcast 1-row aggregate. */
  private def q279(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    import graft.operators.IntervalMerge
    val iv = ev(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + lit(300000000L)).as("e_us"))
    val merged = IntervalMerge
      .merge(iv, "user_id", col("s_us"), col("e_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum((col("end") - col("start")).cast("decimal(38,0)"))
          .cast("long").as("active_us"))
    val win = ev(s, dir).groupBy()
      .agg((max(unix_micros(col("ts"))) + lit(300000000L) -
        min(unix_micros(col("ts")))).as("window_us"))
    merged.crossJoin(broadcast(win))
      .withColumn("coverage_e4", intDivExact(
        col("active_us").cast("decimal(38,0)") * lit(20000L) +
          col("window_us"),
        lit(2L) * col("window_us")))
      .select("user_id", "n_islands", "active_us", "coverage_e4")
      .orderBy("user_id")
  }

  /** Churn hazard life table — the Kaplan–Meier INPUT table (risk-set
    * size, churn events, exact hazard per day), which is the honest
    * stopping point for an exact-arithmetic engine: the KM survival
    * curve itself is a cumulative PRODUCT of rationals, whose float
    * evaluation is order-dependent and whose exact form overflows —
    * every KM consumer actually starts from this table anyway. A user
    * "enters" on their first event day and "churns" on their last; on
    * each calendar day d: n_at_risk = users with first ≤ d ≤ last,
    * n_churned = users with last = d, hazard_e6 = ⌊10⁶·d_churn/n⌋
    * exact. The day grid is calendar-bounded, the user-day expansion
    * is a sequence explode per user (span-bounded), and the rollup is
    * one day-keyed aggregation. */
  private def q276(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val span = ev(s, dir)
      .groupBy("user_id")
      .agg(to_date(min("ts")).as("first_day"),
        to_date(max("ts")).as("last_day"))
    val atRisk = span
      .select(col("user_id"), col("last_day"),
        explode(expr("sequence(first_day, last_day, interval 1 day)"))
          .as("day"))
    atRisk
      .groupBy("day")
      .agg(count(lit(1)).as("n_at_risk"),
        sum((col("day") === col("last_day")).cast("long"))
          .as("n_churned"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_at_risk"), col("n_churned"),
        intDiv(lit(1000000L) * col("n_churned"), col("n_at_risk"))
          .as("hazard_e6"))
      .orderBy("day")
  }

  /** Kaplan–Meier survival curve over q276's churn life table — the
    * user-facing deliverable the hazard table feeds (round-10 verdict
    * task 7), exact where "exact" is definable for a cumulative product
    * of rationals: the curve is computed on a FIXED-POINT e12 grid,
    * S₀ = 10¹², S_d = ⌊S_{d−1}·(n_d − d_d)/n_d⌋ in arbitrary-precision
    * integers, floor once per day. Each floor loses < 1 unit at e-12,
    * so after D days the reported km_e12 sits within [true·10¹² − D,
    * true·10¹²] — a PROVEN tolerance of D·10⁻¹² (documented contract,
    * the HLL-≤5% house pattern), while the recurrence itself is
    * bit-identical in any engine with exact integer division (DuckDB
    * replays it as a recursive CTE over HUGEINT — the curve is
    * hash-checked, not eyeballed). No engine libm is ever on the hash
    * path.
    *
    * The float alternative a 100 TB engine would reach for —
    * exp(Σ ln(1 − h)) as a windowed running sum, the log-space identity
    * from the verdict — rides along as the in-engine cross-check:
    * log_ok pins |exp-path − exact-path| ≤ 10⁻⁶ (absolute, at S-scale
    * 1.0), validating the log-space path against the exact one on every
    * run. Scale: the per-day fold is driver-side over the CALENDAR-
    * bounded life table (≤ ~4k rows/decade — the [[
    * graft.operators.PrefixScan]] partition-totals contract; the fold
    * is floor-per-step and therefore non-associative, so it cannot seed
    * a two-pass scan), and everything feeding it is the q276 keyed
    * aggregation. */
  private def q294(s: SparkSession, dir: String): DataFrame = {
    val lt = ev(s, dir)
      .groupBy("user_id")
      .agg(to_date(min("ts")).as("first_day"),
        to_date(max("ts")).as("last_day"))
      .select(col("user_id"), col("last_day"),
        explode(expr("sequence(first_day, last_day, interval 1 day)"))
          .as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum((col("day") === col("last_day")).cast("long")).as("d"))
    val days = lt
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("d"))
      .orderBy("day")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    var km = BigInt("1000000000000")
    var lnSum = 0.0
    val out = days.map { case (day, n, d) =>
      km = km * BigInt(n - d) / BigInt(n) // exact; / truncates like //
      lnSum += math.log((n - d).toDouble / n.toDouble)
      val logPath = math.rint(math.exp(lnSum) * 1e12).toLong
      (day, n, d, km.toLong, (km.toLong - logPath).abs <= 1000000L)
    }
    import s.implicits._
    out.toSeq.toDF("day", "n_at_risk", "n_churned", "km_e12", "log_ok")
      .orderBy("day")
  }

  /** Log-rank test between two user cohorts' churn survival — the
    * standard "did the treatment change retention" read over q276's
    * life-table machinery (and the inferential companion to q294's KM
    * curves): cohorts from the q256 md5 coin, and on each day the
    * observed-minus-expected cohort-A churn (O−E = (d_A·n − d·n_A)/n)
    * and the hypergeometric variance term d·n_A·n_B·(n−d)/(n²(n−1)),
    * each an exact rational FLOORED ONCE onto the e6 grid (the q301
    * floor-before-sum convention — summing exact rationals with
    * per-day denominators has no common grid), then z² =
    * (Σoe)²/(10⁶·Σv) half-up on the e4 grid through decimal/HUGEINT.
    * On the coin split z² ≈ 0 is the correct null calibration — the
    * same discipline as q269's DiD. Single-day-grid aggregation; one
    * rollup row. */
  private def q307(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val lt = ev(s, dir)
      .groupBy("user_id")
      .agg(to_date(min("ts")).as("first_day"),
        to_date(max("ts")).as("last_day"))
      .withColumn("grp",
        when(Hashing.md5U32(col("user_id").cast("string")) % 2L === 0L,
          "A").otherwise("B"))
      .select(col("grp"), col("last_day"),
        explode(expr("sequence(first_day, last_day, interval 1 day)"))
          .as("day"))
      .groupBy("day")
      .agg(sum(when(col("grp") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("grp") === "B", 1L).otherwise(0L)).as("nb"),
        sum(when(col("grp") === "A" && col("day") === col("last_day"), 1L)
          .otherwise(0L)).as("da"),
        sum(when(col("grp") === "B" && col("day") === col("last_day"), 1L)
          .otherwise(0L)).as("db"))
      .withColumn("n", col("na") + col("nb"))
      .withColumn("d", col("da") + col("db"))
      .filter(col("n") >= 2L && col("na") > 0L && col("nb") > 0L)
      .withColumn("oe_e6", intDivExact(
        lit(1000000L) * (col("da").cast("decimal(38,0)") * col("n") -
          col("d").cast("decimal(38,0)") * col("na")),
        col("n")))
      .withColumn("v_e6", intDivExact(
        lit(1000000L) * col("d").cast("decimal(38,0)") * col("na") *
          col("nb") * (col("n") - col("d")),
        col("n").cast("decimal(38,0)") * col("n") * (col("n") - lit(1L))))
    lt.agg(count(lit(1)).as("n_days_used"),
        sum(col("oe_e6").cast("decimal(38,0)")).cast("long").as("oe_sum_e6"),
        sum(col("v_e6").cast("decimal(38,0)")).cast("long").as("var_sum_e6"))
      .select(col("n_days_used"), col("oe_sum_e6"), col("var_sum_e6"),
        when(col("var_sum_e6") > 0L, intDivExact(
          col("oe_sum_e6").cast("decimal(38,0)") * col("oe_sum_e6") *
            lit(20000L) + lit(1000000L) * col("var_sum_e6"),
          lit(2000000L) * col("var_sum_e6")))
          .otherwise(lit(null).cast("long")).as("z2_e4"))
  }

  /** Top-10 behavioral path trigrams — the lightweight sequence-pattern
    * census ("what do users actually DO, three steps at a time") that
    * complements q137's first-order Markov transitions with one more
    * order of memory: per user, consecutive event-type triples in
    * (ts, event_id) order (two lag windows, one pass), counted globally,
    * ranked deterministically (count desc, path asc). The ranking
    * window runs over the ≤|types|³ distinct paths — bounded by the
    * type alphabet, not the corpus (the q216 bounded-window argument).
    * row_number, not rank: the output contract is exactly ten rows. */
  private def q308(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paths = ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("p1", lag("event_type", 1).over(w))
      .withColumn("p2", lag("event_type", 2).over(w))
      .filter(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    paths
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n").desc, col("path"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select("rnk", "path", "n")
      .orderBy("rnk")
  }

  /** State dwell-time census — how long users LINGER in each event type
    * (time-in-state, the duration complement of q137's transition
    * counts): per user, each event's dwell is the exact µs gap to the
    * user's next event (terminal events have no successor and are
    * excluded — a dwell needs an exit); rolled up per type into count,
    * total µs, exact half-up mean, and exact max. One window pass + one
    * aggregate — q63's exchange shape. */
  private def q313(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("dwell_us", lead("us", 1).over(w) - col("us"))
      .filter(col("dwell_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_dwells"),
        sum(col("dwell_us").cast("decimal(38,0)")).cast("long")
          .as("total_us"),
        max("dwell_us").as("max_us"))
      .withColumn("mean_us", intDivExact(
        col("total_us").cast("decimal(38,0)") * lit(2L) + col("n_dwells"),
        lit(2L) * col("n_dwells")))
      .select("event_type", "n_dwells", "total_us", "mean_us", "max_us")
      .orderBy("event_type")
  }

  /** Median-of-means robust mean — the estimator a 100 TB pipeline uses
    * when a handful of corrupted rows could drag the plain mean (MoM's
    * breakdown point is ~1/2 per bucket): per event_type, rows land in
    * 16 deterministic md5 buckets, each bucket's mean cents floors
    * half-up onto the e2 grid (exact rational — so the 16 values are
    * exact integers), and the estimate is their LOWER MEDIAN (the q183
    * deterministic convention; no interpolation, no floats). The exact
    * overall mean_e2 rides along — |mom − mean| is the robustness
    * premium paid, ≈ 0 on this clean corpus (the honest null), and the
    * alarm when they diverge on a dirty one. Bucket count is fixed at
    * 16 regardless of scale — the rollup is O(types·16). */
  private def q314(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{cents, intDivExact}
    val base = ev(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (Hashing.md5U32(col("event_id").cast("string")) % 16L).as("bkt"),
        cents(col("value")).as("c"))
    val perB = base.groupBy("event_type", "bkt")
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).as("s"))
      .withColumn("bmean_e2", intDivExact(
        col("s") * lit(200L) + col("n"), lit(2L) * col("n")))
    val mom = perB.groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"),
        expr("sort_array(collect_list(bmean_e2))").as("ms"))
      .select(col("event_type"), col("n_buckets"),
        expr("ms[cast((size(ms) - 1) / 2 as int)]").as("mom_e2"))
    val exact = base.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c").cast("decimal(38,0)")).as("st"))
      .withColumn("mean_e2", intDivExact(
        col("st") * lit(200L) + col("n_rows"), lit(2L) * col("n_rows")))
      .select("event_type", "n_rows", "mean_e2")
    mom.join(exact, "event_type")
      .withColumn("abs_gap_e2", abs(col("mom_e2") - col("mean_e2")))
      .select("event_type", "n_rows", "n_buckets", "mom_e2", "mean_e2",
        "abs_gap_e2")
      .orderBy("event_type")
  }

  /** Session counts before/after identity stitching — the census that
    * quantifies WHY entity resolution matters downstream: the same
    * 30-minute gap sessionization (q63's frame) run at the raw-user
    * grain and again at q244's stitched-identity grain. Two raw users
    * who are one person get their interleaved activity merged, so
    * identity-grain sessions can only be ≤ raw sessions — the delta is
    * the sessionization error an unstitched pipeline ships. Both arms
    * are one window pass + one global rollup; the stitch join is
    * user-keyed. */
  private def q275(s: SparkSession, dir: String): DataFrame = {
    def arm(df: DataFrame, key: String, grain: String): DataFrame = {
      val w = Window.partitionBy(key).orderBy(col("ts"), col("event_id"))
      df.withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess",
          (col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"))
            .cast("long"))
        .groupBy()
        .agg(sum("new_sess").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .select(lit(grain).as("grain"), col("n_sessions"),
          col("n_events"))
    }
    val e = ev(s, dir).select(col("user_id"), col("ts"), col("event_id"))
    val raw = arm(e, "user_id", "raw_user")
    val stitched = arm(
      e.join(identityClusters(s, dir), "user_id")
        .select(col("identity_id"), col("ts"), col("event_id")),
      "identity_id", "stitched_identity")
    raw.unionByName(stitched).orderBy("grain")
  }

  /** Difference-in-differences — the causal-inference workhorse for
    * "did the thing we changed on Jan 16 move spend?": cohorts from the
    * md5 coin (q256's split), periods from the cutover date, the
    * estimand (Δtreat − Δcontrol on mean cents per event) computed as
    * four exact-rational cell means rounded to the e4 grid
    * (intDivExact round-half-up) and differenced as INTEGERS — the
    * rounding happens once per cell, not once per arithmetic step, so
    * both engines difference identical integers. On this corpus the
    * coin is independent of time, so did_e4 ≈ 0 is the correct
    * answer — the null calibration every DiD pipeline should run
    * before anyone believes its nonzero results. */
  private def q269(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val cut = to_date(lit("2024-01-16"))
    def cell(v: String, p: String) =
      max(when(col("variant") === v && col("period") === p,
        col("mean_e4"))).as(s"${v}_$p")
    ev(s, dir)
      .withColumn("variant",
        when(Hashing.md5U32(col("user_id").cast("string")) % 2L === 0L,
          "treat").otherwise("control"))
      .withColumn("period",
        when(to_date(col("ts")) < cut, "pre").otherwise("post"))
      .withColumn("cents", Rounding.cents(col("value")))
      .groupBy("variant", "period")
      .agg(count(lit(1)).as("n"), Rounding.sumCents(col("cents")).as("t"))
      .withColumn("mean_e4", intDivExact(
        col("t").cast("decimal(38,0)") * lit(20000L) + col("n"),
        lit(2L) * col("n")))
      .groupBy()
      .agg(cell("treat", "pre"), cell("treat", "post"),
        cell("control", "pre"), cell("control", "post"))
      .withColumn("did_e4",
        (col("treat_post") - col("treat_pre")) -
          (col("control_post") - col("control_pre")))
  }

  /** RFM segmentation census — the classic CRM cube: every user scored
    * 1–5 on Recency (last activity, newest best), Frequency (purchase
    * count) and Monetary (purchase cents), rolled up per RFM cell. The
    * quintile scores come from [[graft.operators.GlobalRank]] +
    * `bucketOf` — three exact global NTILEs with NO single-task window
    * (the q174 decile discipline; bucketOf ≡ ntile is spec-proven, so
    * the oracle may say `ntile(5)` while the engine range-partitions).
    * Scores flip to 6 − bucket so 5 = best, the convention every RFM
    * writeup uses; cells are r·100 + f·10 + m. All integers. */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    // localCheckpoint (r20, guide §1.2/§2.4): perUser feeds FOUR
    // consumers — the final rollup plus three GlobalRank scorers whose
    // eager range-repartition passes each re-ran the events scan + the
    // per-user aggregation (4 scans of the fact table for one user-
    // bounded table). Materializing the user-grain table once turns
    // that into 1 scan + 3 cache reads; the frame is O(users), the
    // same bound the checkpoint-safe q108Stages argument covers.
    val perUser = ev(s, dir)
      .withColumn("cents", Rounding.cents(col("value")))
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("freq"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L).cast("decimal(38,0)")).cast("long").as("monetary"))
      .transform(checkpoint)
    // withRankN (r21, guide §1.2): the quintile split needs n alongside
    // the rank, and the rank pass has already collected it — the former
    // count() aggregate + broadcast cross join per scorer (three of
    // each) computed a number the driver was holding.
    def score(metric: String, outCol: String): DataFrame = {
      val (ranked, n) = GlobalRank.withRankN(
        perUser.select(col("user_id"), col(metric)),
        "rnk", col(metric).desc, col("user_id").asc)
      ranked.select(col("user_id"),
        (lit(6L) - GlobalRank.bucketOf(col("rnk"), lit(n), 5))
          .as(outCol))
    }
    perUser
      .join(score("last_us", "r"), "user_id")
      .join(score("freq", "f"), "user_id")
      .join(score("monetary", "m"), "user_id")
      .groupBy((col("r") * 100L + col("f") * 10L + col("m"))
        .as("rfm_cell"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("freq").cast("decimal(38,0)")).cast("long")
          .as("freq_total"),
        sum(col("monetary").cast("decimal(38,0)")).cast("long")
          .as("monetary_cents"))
      .orderBy("rfm_cell")
  }

  /** Rapid-repeat purchase detector — the double-charge/fraud screen:
    * for each user, purchases landing within one hour of the previous
    * purchase, reported as (first, repeat) event pairs with the exact
    * µs gap. One lag window per user over purchases only — the q63
    * frame restricted to one event type; at any scale the partition is
    * a user's own purchase history. */
  private def q258(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev(s, dir).filter(col("event_type") === "purchase")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("prev_id", lag("event_id", 1).over(w))
      .filter(col("us") - col("prev_us") <= 3600000000L)
      .select(col("user_id"), col("prev_id").as("first_event"),
        col("event_id").as("repeat_event"),
        (col("us") - col("prev_us")).as("gap_us"))
      .orderBy("user_id", "repeat_event")
  }

  /** Maximum drawdown of the daily-revenue curve per event type — the
    * "how bad did it get from the best day" risk census (finance's
    * peak-to-trough, applied to any daily KPI): running max over the
    * calendar-ordered daily cents totals, drawdown = peak − today,
    * report the worst trough with ties to the EARLIEST day
    * (deterministic, stated). One daily aggregation over the corpus,
    * then per-type windows over the calendar-bounded series — the
    * q294/q325 bounded-window argument; nothing row-scale shuffles
    * twice. */
  private def q327(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("x"))
    val ord = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("peak", max("x").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd", col("peak") - col("x"))
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("dd").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("trough_day"),
        col("peak").as("peak_cents"), col("x").as("trough_cents"),
        col("dd").as("max_dd_cents"))
      .orderBy("event_type")
  }

  /** Historical VaR₉₅/ES₉₅ on day-over-day revenue deltas per event
    * type — the tail-risk pair every monitoring stack quotes, computed
    * the EXACT empirical way (no distributional assumption, no
    * interpolation): deltas via one lag over the calendar-ordered daily
    * cents, k = ⌈0.05·n⌉ (integer arithmetic: (n+19) div 20), VaR = the
    * k-th smallest delta (order statistic, ties broken by day for a
    * deterministic row, value identical regardless), ES = the mean of
    * the k worst deltas as an exact e2 rational (dividend-signed
    * truncation, both engines). Per-type bounded windows again; the
    * k-tail sum is an aggregation, not a second sort. */
  private def q328(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val daily = ev(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(Rounding.cents(col("value"))).as("x"))
    val ord = Window.partitionBy("event_type").orderBy("day")
    val rets = daily
      .withColumn("ret", col("x") - lag("x", 1).over(ord))
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("ret"), col("day"))).cast("long"))
    val n = rets.groupBy("event_type").agg(count(lit(1)).as("n_rets"))
      .withColumn("k", Rounding.intDiv(col("n_rets") + lit(19L), lit(20L)))
    rets.join(n, "event_type")
      .filter(col("rn") <= col("k"))
      .groupBy(col("event_type"), col("n_rets"), col("k"))
      .agg(max(when(col("rn") === col("k"), col("ret"))).as("var_cents"),
        sum("ret").as("tail_sum"))
      .select(col("event_type"), col("n_rets"), col("k"),
        col("var_cents"),
        intDivExact(col("tail_sum").cast("decimal(38,0)") * lit(100L),
          col("k")).as("es_cents_e2"))
      .orderBy("event_type")
  }

  /** Two-sided nearest-neighbor match — the matching estimator's core
    * primitive (and the missing half of q25/q61's backward-only as-of):
    * every treated row (purchase) pairs with its nearest control
    * (click) by the SAME user in time, looking BOTH directions, with a
    * fully pinned tie policy: controls are first deduped to one per
    * (user, µs) (min event_id — DuckDB's ASOF picks an arbitrary
    * equal-key row otherwise, the q25 lesson), equal gaps resolve to
    * the BACKWARD match, and a treated user with no controls keeps a
    * null match rather than vanishing. Spark side: one union-tagged
    * window pass per direction carrying the control as a struct
    * (`last(..., ignoreNulls)` over the user-partitioned µs order) —
    * two shuffles on user_id total, no range self-join; the oracle is
    * the two-directional DuckDB ASOF pair. The outcome delta rides
    * along, which is all a with-replacement matching estimator needs
    * downstream. */
  private def q335(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        Rounding.cents(col("value")).as("cents"))
    val treated = base.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"), col("cents"))
    val ctl = base.filter(col("event_type") === "click")
      .groupBy("user_id", "us")
      .agg(min(struct(col("event_id"), col("cents"))).as("m"))
      .select(col("user_id"), col("us"),
        col("m.event_id").as("ctl_id"), col("m.cents").as("ctl_cents"))
    val tagged = treated
      .select(col("user_id"), col("us"), col("event_id"), col("cents"),
        lit(null).cast("long").as("ctl_id"),
        lit(null).cast("long").as("ctl_cents"))
      .unionByName(ctl.select(col("user_id"), col("us"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("long").as("cents"),
        col("ctl_id"), col("ctl_cents")))
      .withColumn("is_ctl", col("ctl_id").isNotNull)
    def side(desc: Boolean): DataFrame = {
      val ord =
        if (desc) Seq(col("us").desc, col("is_ctl").desc,
          coalesce(col("event_id"), col("ctl_id")).desc)
        else Seq(col("us"), col("is_ctl").desc,
          coalesce(col("event_id"), col("ctl_id")))
      val w = Window.partitionBy("user_id").orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tag = if (desc) "next" else "prev"
      tagged
        .withColumn(s"${tag}_m", last(
          when(col("is_ctl"),
            struct(col("us").as("cus"), col("ctl_id").as("cid"),
              col("ctl_cents").as("cc"))), ignoreNulls = true).over(w))
        .filter(!col("is_ctl"))
        .select(col("event_id"), col(s"${tag}_m"))
    }
    treated
      .join(side(desc = false), Seq("event_id"), "left")
      .join(side(desc = true), Seq("event_id"), "left")
      .withColumn("use_prev",
        col("prev_m").isNotNull && (col("next_m").isNull ||
          col("us") - col("prev_m.cus") <= col("next_m.cus") - col("us")))
      .withColumn("pick",
        when(col("use_prev"), col("prev_m")).otherwise(col("next_m")))
      .withColumn("direction",
        when(col("pick").isNull, lit(null).cast("string"))
          .when(col("use_prev"), lit("prev")).otherwise(lit("next")))
      .select(col("event_id"), col("user_id"),
        col("pick.cid").as("ctl_event_id"),
        col("direction"),
        abs(col("pick.cus") - col("us")).as("gap_us"),
        (col("cents") - col("pick.cc")).as("diff_cents"))
      .orderBy("event_id")
  }

  /** Paired sign-flip permutation test — the assumption-free
    * significance machinery q256's parametric z-test can't give you
    * when the daily deltas are skewed/heavy-tailed: H₀ says the daily
    * purchase−click cents delta is symmetric around 0, so each day's
    * sign is exchangeable; 199 md5-seeded re-randomizations (the
    * engine-portable, run-stable "RNG" every sampler here uses) yield
    * the exact permutation p-value p = (1 + #{T_b ≥ T_obs})/(B+1) on
    * the e6 grid (10⁶/200 divides exactly — no rounding at all). All
    * statistics are |Σ ± integer cents| — exact. Scale: the flips
    * multiply the DAILY table (calendar-bounded), never the event
    * table; one groupBy(b) over ≤ B·days rows. */
  private def q336(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDiv
    val b = 199
    val daily = ev(s, dir).filter(col("value").isNotNull)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(Rounding.sumCents(
        when(col("event_type") === "purchase",
          Rounding.cents(col("value")))
          .otherwise(-Rounding.cents(col("value")))).as("d"))
      .withColumn("day_s", date_format(col("day"), "yyyy-MM-dd"))
    val obs = daily.agg(abs(sum("d")).as("t_obs"),
      count(lit(1)).as("n_days"))
    val flips = daily.crossJoin(
        s.range(1, b + 1).select(col("id").as("b")))
      .withColumn("sgn",
        when(Hashing.md5U32(concat(col("day_s"), lit(":"), col("b")))
          % 2L === 0L, 1L).otherwise(-1L))
      .groupBy("b").agg(abs(sum(col("sgn") * col("d"))).as("t_b"))
    flips.crossJoin(broadcast(obs))
      .agg(first("n_days").as("n_days"), first("t_obs").as("t_obs"),
        sum((col("t_b") >= col("t_obs")).cast("long")).as("n_ge"))
      .select(col("n_days"), lit(b.toLong).as("b_reps"), col("t_obs"),
        col("n_ge"),
        intDiv((lit(1L) + col("n_ge")) * lit(1000000L),
          lit((b + 1).toLong)).as("p_e6"))
  }

  /** Sample-ratio-mismatch guard — the first thing a trustworthy A/B
    * system checks before reading q256's significance test: under the
    * 50/50 md5 assignment the user counts must be binomially balanced,
    * and χ² = (n_A − n_B)²/(n_A + n_B) catches the broken bucketing /
    * lossy logging that silently biases every downstream metric. Exact
    * e6 integers; the flag pins the 0.05 critical value 3.841459 as an
    * e6 constant (no distribution functions, no floats). One distinct +
    * one aggregation. */
  private def q340(s: SparkSession, dir: String): DataFrame = {
    import Rounding.intDivExact
    val users = ev(s, dir).select("user_id").distinct()
      .withColumn("variant",
        when(Hashing.md5U32(col("user_id").cast("string")) % 2L === 0L,
          lit(0L)).otherwise(lit(1L)))
    users.agg(
        sum(lit(1L) - col("variant")).as("n_a"),
        sum("variant").as("n_b"))
      .select(col("n_a"), col("n_b"),
        intDivExact(
          (col("n_a") - col("n_b")).cast("decimal(38,0)") *
            (col("n_a") - col("n_b")) * lit(1000000L),
          col("n_a") + col("n_b")).as("chi2_e6"))
      .withColumn("srm_flag",
        (col("chi2_e6") > lit(3841459L)).cast("long"))
  }

  /** CUPED variance reduction — the pre-period-covariate adjustment
    * every mature experimentation platform applies before reading an
    * A/B metric: θ = cov(X,Y)/var(X) over pre-period spend X (Jan 1–15)
    * and post-period spend Y (Jan 16–30) per user, adjusted mean
    * Ȳᵥ − θ(X̄ᵥ − X̄). Exactness discipline: every covariance/variance
    * is an integer power-sum numerator (the n² factors cancel in the
    * ρ² = cov²/(var·var) ratio, so `var_reduction_e6` is ONE exact
    * rational); θ and the means land on explicit e6/e2 grids with
    * documented truncation order, so both engines produce identical
    * integers. Scale: one per-user aggregation (conditional sums — no
    * second scan for the split), one 1-row stats broadcast, a 2-row
    * output. */
  private def q345(s: SparkSession, dir: String): DataFrame = {
    import Rounding.{intDivExact, cents}
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val perUser = ev(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"),
        when(to_date(col("ts")) < lit("2024-01-16").cast("date"),
          cents(col("value"))).otherwise(lit(0L)).as("xc"),
        when(to_date(col("ts")) >= lit("2024-01-16").cast("date"),
          cents(col("value"))).otherwise(lit(0L)).as("yc"))
      .groupBy("user_id")
      .agg(sum("xc").as("x"), sum("yc").as("y"))
      .withColumn("variant",
        when(Hashing.md5U32(col("user_id").cast("string")) % 2L === 0L,
          "A").otherwise("B"))
    val g = perUser.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(d38(col("x")) * col("x")).as("sxx"),
      sum(d38(col("x")) * col("y")).as("sxy"),
      sum(d38(col("y")) * col("y")).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - d38(col("sx")) * col("sy")).as("cov_n"),
        (col("n") * col("sxx") - d38(col("sx")) * col("sx")).as("varx_n"),
        (col("n") * col("syy") - d38(col("sy")) * col("sy")).as("vary_n"))
      .select(
        intDivExact(col("cov_n") * lit(1000000L), col("varx_n"))
          .as("theta_e6"),
        intDivExact(col("cov_n") * col("cov_n") * lit(1000000L),
          col("varx_n") * col("vary_n")).as("var_reduction_e6"),
        intDivExact(d38(col("sx")) * lit(100L), col("n")).as("xbar_e2"))
    perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("x").as("sxv"), sum("y").as("syv"))
      .crossJoin(broadcast(g))
      .select(col("variant"), col("n"),
        intDivExact(d38(col("syv")) * lit(100L), col("n")).as("ybar_e2"),
        (intDivExact(d38(col("syv")) * lit(100L), col("n")) -
          intDivExact(
            d38(col("theta_e6")) *
              (intDivExact(d38(col("sxv")) * lit(100L), col("n")) -
                col("xbar_e2")),
            lit(1000000L))).as("cuped_mean_e2"),
        col("theta_e6"), col("var_reduction_e6"))
      .orderBy("variant")
  }

  val defs: Map[String, Q] = Map(
    "q345_cuped" -> (q345 _),
    "q340_ab_srm" -> (q340 _),
    "q336_permutation_test" -> (q336 _),
    "q335_nn_match" -> (q335 _),
    "q327_drawdown" -> (q327 _),
    "q328_var_es" -> (q328 _),
    "q233_attribution" -> (q233 _),
    "q244_identity_stitch" -> (q244 _),
    "q252_capped_balance" -> (q252 _),
    "q255_markov_stationary" -> (q255 _),
    "q256_ab_significance" -> (q256 _),
    "q257_rfm_census" -> (q257 _),
    "q258_rapid_repeat" -> (q258 _),
    "q269_diff_in_diff" -> (q269 _),
    "q275_stitched_sessions" -> (q275 _),
    "q276_hazard_table" -> (q276 _),
    "q294_km_curve" -> (q294 _),
    "q307_logrank" -> (q307 _),
    "q308_path_trigrams" -> (q308 _),
    "q313_state_dwell" -> (q313 _),
    "q314_median_of_means" -> (q314 _),
    "q315_sequential_ab" -> (q315 _),
    "q279_active_coverage" -> (q279 _),
    "q283_hoeffding_ci" -> (q283 _),
    "q284_entry_conversion" -> (q284 _),
    "q290_power_table" -> (q290 _),
    "q291_ltv_curve" -> (q291 _),
    "q245_session_features" -> (q245 _),
    "q246_burst_census" -> (q246 _),
    "q247_golden_record" -> (q247 _),
    "q222_timed_funnel" -> (q222 _),
    "q208_lateness_calibration" -> (q208 _),
    "q182_conversion_survival" -> (q182 _),
    "q188_streaks" -> (q188 _),
    "q189_activity_bitmask" -> (q189 _),
    "q62_stratified_sample" -> (q62 _),
    "q63_sessionize" -> (q63 _),
    "q68_salted_join" -> (q68 _),
    "q69_cdc_merge" -> (q69 _),
    "q85_rolling_window" -> (q85 _),
    "q88_funnel" -> (q88 _),
    "q96_weighted_sample" -> (q96 _),
    "q127_cohort_retention" -> (q127 _),
    "q133_rolling_dau" -> (q133 _),
    "q137_transitions" -> (q137 _),
    "q142_interarrival" -> (q142 _))

  /** Inter-arrival gap percentiles per event type — the arrival-process
    * health metric (SLO dashboards, burst/starvation detection; the
    * distributional complement of q85's rolling counts). One lag window
    * per type over (ts, event_id) order gives integer-second gaps, then
    * p50/p95 via `percentile` on BIGINTs ≡ DuckDB `quantile_cont`: both
    * engines interpolate (1−f)·a + f·b at pos p·(n−1) over the same
    * integers with the same IEEE ops — the q81/q116-proven construct —
    * and the floor-form e1 scaling re-lands the result on an integer.
    * Min/max/n ride along as plain integers. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        unix_timestamp(col("ts")).as("ep"))
      .withColumn("gap", col("ep") - lag("ep", 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        min("gap").as("min_s"), max("gap").as("max_s"),
        floor(expr("percentile(gap, 0.5)") * lit(10.0) + lit(0.5))
          .cast("long").as("p50_e1"),
        floor(expr("percentile(gap, 0.95)") * lit(10.0) + lit(0.5))
          .cast("long").as("p95_e1"))
      .orderBy("event_type")
  }

  /** Event-type transition counts (the first-order Markov statistics of
    * user behavior — the input to next-action models and funnel-drop
    * diagnostics): each user's event stream in (ts, event_id) order
    * yields (previous type → current type) pairs via one lag window,
    * then one count per ordered pair. Two keyed shuffles (user, then
    * pair); the output is O(types²) regardless of input size. Stream
    * starts (no previous event) are counted against the synthetic
    * '_start' state so rows entering the system are visible too. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type",
        coalesce(lag("event_type", 1).over(w), lit("_start")))
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Rolling 7-day distinct active users per day — the windowed-distinct
    * aggregate `count(DISTINCT) OVER (RANGE 7 days)` that no engine
    * computes incrementally (distinct doesn't decompose over sliding
    * frames). The scalable EXACT shape: distinct (user, day) first
    * (collapses the raw stream), then each activity day fans out to the
    * ≤ 7 window days it is visible in — a BOUNDED explode, factor =
    * window length, nothing like the raw row count — and one distinct
    * count per day. At 100 TB the approximate path swaps the final
    * aggregate for per-day HLL sketch merges (q72's machinery); the
    * fan-out shape is identical. Day D counts users active in [D−6, D];
    * the grid is clamped to the observed day range. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val ud = ev(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val bounds = ud.agg(max("d").as("dmax"))
    ud.crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(expr(
        "sequence(d, least(date_add(d, 6), dmax), interval 1 day)"))
        .as("day"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("dau_7d"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau_7d"))
      .orderBy("day")
  }

  /** Oracle CTE chain ending in `reach(id, comp)` — q244's linking-key
    * graph + recursive min-label closure, shared with q247 (no leading
    * WITH RECURSIVE; a def for object-init-order safety). */
  private def identityCtes: String =
    s"""uk AS (
      |  SELECT DISTINCT user_id,
      |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
      |      * 100000000 + ${Rounding.centsSql("value")} AS k
      |  FROM events
      |  WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''),
      |rare AS (
      |  SELECT k FROM uk GROUP BY k
      |  HAVING count(*) BETWEEN 2 AND 3),
      |kept AS (SELECT uk.user_id, uk.k FROM uk JOIN rare USING (k)),
      |pairs AS (
      |  SELECT DISTINCT a.user_id AS a, b.user_id AS b
      |  FROM kept a JOIN kept b
      |    ON a.k = b.k AND a.user_id < b.user_id),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION ALL
      |          SELECT b AS src, a AS dst FROM pairs),
      |nodes AS (SELECT DISTINCT user_id FROM events),
      |reach(id, comp) AS (
      |  SELECT user_id, user_id FROM nodes
      |  UNION
      |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same power-sum numerators, same e6/e2 grids and truncation order
    "q345_cuped" -> {
      import Rounding.intDivExactSql
      val theta = intDivExactSql("CAST(cov_n AS HUGEINT) * 1000000",
        "varx_n")
      val vr = intDivExactSql(
        "CAST(cov_n AS HUGEINT) * cov_n * 1000000",
        "CAST(varx_n AS HUGEINT) * vary_n")
      val xbar = intDivExactSql("CAST(sx AS HUGEINT) * 100", "n")
      val ybarv = intDivExactSql("CAST(syv AS HUGEINT) * 100", "nv")
      val xbarv = intDivExactSql("CAST(sxv AS HUGEINT) * 100", "nv")
      val adj = intDivExactSql(
        s"CAST(theta_e6 AS HUGEINT) * (($xbarv) - xbar_e2)", "1000000")
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN ${Rounding.centsSql("value")} ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN ${Rounding.centsSql("value")} ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
        |puv AS (
        |  SELECT *, CASE WHEN ${graft.functions.Hashing.md5U32Sql(
             "CAST(user_id AS VARCHAR)")} % 2 = 0
        |    THEN 'A' ELSE 'B' END AS variant
        |  FROM pu),
        |g0 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM puv),
        |g1 AS (
        |  SELECT n, sx,
        |    n * sxy - CAST(sx AS HUGEINT) * sy AS cov_n,
        |    n * sxx - CAST(sx AS HUGEINT) * sx AS varx_n,
        |    n * syy - CAST(sy AS HUGEINT) * sy AS vary_n
        |  FROM g0),
        |g AS (
        |  SELECT $theta AS theta_e6, $vr AS var_reduction_e6,
        |    $xbar AS xbar_e2
        |  FROM g1),
        |pv AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
        |  FROM puv GROUP BY variant)
        |SELECT variant, nv AS n, $ybarv AS ybar_e2,
        |  ($ybarv) - ($adj) AS cuped_mean_e2,
        |  theta_e6, var_reduction_e6
        |FROM pv, g ORDER BY variant""".stripMargin
    },
    // same md5 variant split, exact chi-square, e6 critical constant
    "q340_ab_srm" -> {
      val chi = Rounding.intDivExactSql(
        "CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000",
        "n_a + n_b")
      s"""WITH users AS (
        |  SELECT DISTINCT user_id FROM events),
        |v AS (
        |  SELECT CASE WHEN
        |    ${graft.functions.Hashing.md5U32Sql(
               "CAST(user_id AS VARCHAR)")} % 2 = 0
        |    THEN 0 ELSE 1 END AS variant
        |  FROM users),
        |agg AS (
        |  SELECT CAST(sum(1 - variant) AS BIGINT) AS n_a,
        |    CAST(sum(variant) AS BIGINT) AS n_b
        |  FROM v)
        |SELECT n_a, n_b, $chi AS chi2_e6,
        |  CAST($chi > 3841459 AS BIGINT) AS srm_flag
        |FROM agg""".stripMargin
    },
    // same daily deltas, same md5 sign flips, exact (1+n)/200 p-value
    "q336_permutation_test" -> {
      val u = graft.functions.Hashing.md5U32Sql("day_s || ':' || b")
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(
               s"CASE WHEN event_type = 'purchase' THEN " +
               s"${Rounding.centsSql("value")} ELSE " +
               s"-(${Rounding.centsSql("value")}) END")} AS d
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |ds AS (SELECT day, strftime(day, '%Y-%m-%d') AS day_s, d
        |       FROM daily),
        |obs AS (SELECT CAST(abs(sum(d)) AS BIGINT) AS t_obs,
        |  CAST(count(*) AS BIGINT) AS n_days FROM ds),
        |flips AS (
        |  SELECT b, CAST(abs(sum(
        |      CASE WHEN $u % 2 = 0 THEN d ELSE -d END)) AS BIGINT) AS t_b
        |  FROM ds CROSS JOIN (SELECT unnest(generate_series(1, 199)) AS b)
        |  GROUP BY b),
        |cnt AS (
        |  SELECT CAST(sum(CASE WHEN t_b >= t_obs THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ge
        |  FROM flips, obs)
        |SELECT n_days, CAST(199 AS BIGINT) AS b_reps, t_obs, n_ge,
        |  CAST((1 + n_ge) * 1000000 // 200 AS BIGINT) AS p_e6
        |FROM obs, cnt""".stripMargin
    },
    // two directional ASOF joins on the (user, µs)-deduped control set;
    // equal gaps resolve backward, exactly the engine's tie policy
    "q335_nn_match" ->
      s"""WITH base AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    ${Rounding.centsSql("value")} AS cents
        |  FROM events WHERE value IS NOT NULL),
        |treated AS (
        |  SELECT event_id, user_id, us, cents FROM base
        |  WHERE event_type = 'purchase'),
        |ctl0 AS (
        |  SELECT user_id, us, event_id AS ctl_id, cents AS ctl_cents,
        |    row_number() OVER (PARTITION BY user_id, us
        |      ORDER BY event_id) AS rn
        |  FROM base WHERE event_type = 'click'),
        |ctl AS (SELECT user_id, us, ctl_id, ctl_cents FROM ctl0
        |        WHERE rn = 1),
        |prev AS (
        |  SELECT t.event_id, c.us AS cus, c.ctl_id, c.ctl_cents
        |  FROM treated t ASOF LEFT JOIN ctl c
        |    ON t.user_id = c.user_id AND t.us >= c.us),
        |nxt AS (
        |  SELECT t.event_id, c.us AS cus, c.ctl_id, c.ctl_cents
        |  FROM treated t ASOF LEFT JOIN ctl c
        |    ON t.user_id = c.user_id AND t.us <= c.us)
        |SELECT t.event_id, t.user_id,
        |  CASE WHEN use_prev THEN p.ctl_id ELSE n.ctl_id END
        |    AS ctl_event_id,
        |  CASE WHEN (CASE WHEN use_prev THEN p.ctl_id ELSE n.ctl_id END)
        |      IS NULL THEN NULL
        |    WHEN use_prev THEN 'prev' ELSE 'next' END AS direction,
        |  abs((CASE WHEN use_prev THEN p.cus ELSE n.cus END) - t.us)
        |    AS gap_us,
        |  t.cents - (CASE WHEN use_prev THEN p.ctl_cents
        |    ELSE n.ctl_cents END) AS diff_cents
        |FROM treated t
        |LEFT JOIN prev p ON t.event_id = p.event_id
        |LEFT JOIN nxt n ON t.event_id = n.event_id
        |CROSS JOIN LATERAL (SELECT p.ctl_id IS NOT NULL AND
        |  (n.ctl_id IS NULL OR t.us - p.cus <= n.cus - t.us)
        |  AS use_prev)
        |ORDER BY t.event_id""".stripMargin,
    // same running max + worst-trough rank, earliest-day ties
    "q327_drawdown" ->
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |dd AS (
        |  SELECT event_type, day, x,
        |    CAST(max(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
        |  FROM daily),
        |rk AS (
        |  SELECT *, peak - x AS ddv,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY peak - x DESC, day) AS rk
        |  FROM dd)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS trough_day,
        |  peak AS peak_cents, x AS trough_cents,
        |  CAST(ddv AS BIGINT) AS max_dd_cents
        |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // same ⌈n/20⌉ order statistic and exact e2 tail mean
    "q328_var_es" -> {
      val es = Rounding.intDivExactSql(
        "CAST(tail_sum AS HUGEINT) * 100", "k")
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |rets AS (
        |  SELECT event_type, day,
        |    x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS ret
        |  FROM daily),
        |rn AS (
        |  SELECT event_type, day, ret,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ret, day) AS BIGINT) AS rn
        |  FROM rets WHERE ret IS NOT NULL),
        |n AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rets,
        |    CAST((count(*) + 19) // 20 AS BIGINT) AS k
        |  FROM rn GROUP BY 1),
        |agg AS (
        |  SELECT rn.event_type, n.n_rets, n.k,
        |    CAST(max(CASE WHEN rn = k THEN ret END) AS BIGINT)
        |      AS var_cents,
        |    CAST(sum(ret) AS BIGINT) AS tail_sum
        |  FROM rn JOIN n ON rn.event_type = n.event_type
        |  WHERE rn <= k GROUP BY 1, 2, 3)
        |SELECT event_type, n_rets, k, var_cents, $es AS es_cents_e2
        |FROM agg ORDER BY event_type""".stripMargin
    },
    // same 2–3-user key gate, same sorted pair expansion, q67's
    // recursive min-label closure on users
    "q244_identity_stitch" ->
      s"""WITH RECURSIVE $identityCtes
        |SELECT id AS user_id, min(comp) AS identity_id,
        |  min(comp) = id AS is_canonical
        |FROM reach GROUP BY id ORDER BY user_id""".stripMargin,
    // same tenure bucketing, HUGEINT-exact ARPU
    "q291_ltv_curve" -> {
      import graft.functions.Rounding.{intDivSql, intDivExactSql}
      val wk = intDivSql(
        "date_diff('day', first_day, CAST(e.ts AS DATE))", "7")
      val arpu = intDivExactSql(
        "CAST(revenue_cents AS HUGEINT) * 200 + n_purchasers",
        "2 * n_purchasers")
      s"""WITH first AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS first_day
        |  FROM events GROUP BY user_id),
        |p AS (
        |  SELECT $wk AS tenure_week, e.user_id,
        |    ${Rounding.centsSql("e.value")} AS cents
        |  FROM events e JOIN first USING (user_id)
        |  WHERE e.event_type = 'purchase'),
        |agg AS (
        |  SELECT tenure_week,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_purchasers,
        |    count(*) AS n_purchases,
        |    ${Rounding.sumCentsSql("cents")} AS revenue_cents
        |  FROM p GROUP BY tenure_week)
        |SELECT tenure_week, n_purchasers, n_purchases, revenue_cents,
        |  $arpu AS arpu_cents_e2
        |FROM agg ORDER BY tenure_week""".stripMargin
    },
    // same shared 2(z_a+z_b)^2 literal, identical double ops + ceil
    "q290_power_table" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY user_id),
        |base AS (
        |  SELECT count(*) AS n, CAST(sum(converted) AS BIGINT) AS x
        |  FROM pu),
        |mdes AS (SELECT unnest(generate_series(1, 5)) AS mde_pct)
        |SELECT CAST(mde_pct AS BIGINT) AS mde_pct,
        |  n AS n_users, x AS n_converted,
        |  CAST(ceil(15.697759619495056 *
        |    CAST(x * (n - x) AS DOUBLE) * 10000.0 /
        |    (CAST(n AS DOUBLE) * n * mde_pct * mde_pct)) AS BIGINT)
        |    AS required_per_arm,
        |  ${intDivSql("n", "2")} AS available_per_arm,
        |  CAST(${intDivSql("n", "2")} >= CAST(ceil(15.697759619495056 *
        |    CAST(x * (n - x) AS DOUBLE) * 10000.0 /
        |    (CAST(n AS DOUBLE) * n * mde_pct * mde_pct)) AS BIGINT)
        |    AS BIGINT) AS feasible
        |FROM base, mdes ORDER BY mde_pct""".stripMargin
    },
    // same shared ln(40)/2 literal, one sqrt per group
    "q283_hoeffding_ci" ->
      s"""SELECT event_type, count(*) AS n,
        |  ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS sum_cents,
        |  CAST(max(${Rounding.centsSql("value")}) -
        |    min(${Rounding.centsSql("value")}) AS BIGINT) AS range_cents,
        |  CAST(floor((max(${Rounding.centsSql("value")}) -
        |      min(${Rounding.centsSql("value")})) *
        |    sqrt(1.8444397270569681 / count(*)) + 0.5) AS BIGINT)
        |    AS half_width_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q63's frame + the min-struct entry pick, exact e4 rate
    "q284_entry_conversion" -> {
      import graft.functions.Rounding.intDivExactSql
      val rate = intDivExactSql(
        "CAST(n_converted AS HUGEINT) * 20000 + n_sessions",
        "2 * n_sessions")
      s"""WITH e AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_idx,
        |    (min(struct_pack(ts := ts, event_id := event_id,
        |      et := event_type))).et AS entry_type,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM g GROUP BY 1, 2),
        |agg AS (
        |  SELECT entry_type, count(*) AS n_sessions,
        |    CAST(sum(converted) AS BIGINT) AS n_converted
        |  FROM sess GROUP BY entry_type)
        |SELECT entry_type, n_sessions, n_converted, $rate AS conv_e4
        |FROM agg ORDER BY entry_type""".stripMargin
    },
    // the same gaps-and-islands union (empty-frame max is NULL → first
    // row opens island 0 in both engines), same exact e4 ratio
    "q279_active_coverage" -> {
      import graft.functions.Rounding.intDivExactSql
      val cov = intDivExactSql(
        "CAST(active_us AS HUGEINT) * 20000 + window_us", "2 * window_us")
      s"""WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + 300000000 AS e_us
        |  FROM events),
        |fl AS (
        |  SELECT user_id, s_us, e_us,
        |    CASE WHEN s_us > max(e_us) OVER (PARTITION BY user_id
        |      ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |isl AS (
        |  SELECT *, sum(new_island) OVER (PARTITION BY user_id
        |    ORDER BY s_us, e_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM fl),
        |m AS (
        |  SELECT user_id, island, min(s_us) AS st, max(e_us) AS en
        |  FROM isl GROUP BY 1, 2),
        |agg AS (
        |  SELECT user_id, count(*) AS n_islands,
        |    CAST(sum(en - st) AS BIGINT) AS active_us
        |  FROM m GROUP BY 1),
        |win AS (
        |  SELECT max(epoch_us(ts)) + 300000000 - min(epoch_us(ts))
        |    AS window_us
        |  FROM events)
        |SELECT user_id, n_islands, active_us, $cov AS coverage_e4
        |FROM agg, win ORDER BY user_id""".stripMargin
    },
    // same span expansion (generate_series is sequence), same exact
    // hazard division
    // same 15th-purchase conversion days, cumulative window, and the
    // identical pure-integer z²/boundary cross-multiplications
    "q315_sequential_ab" -> {
      val coin = graft.functions.Hashing
        .md5U32Sql("CAST(user_id AS VARCHAR)")
      s"""WITH p AS (
        |  SELECT user_id, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS k
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT user_id, CAST(ts AS DATE) AS conv_day
        |  FROM p WHERE k = 15),
        |arms AS (
        |  SELECT CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(sum(CASE WHEN g = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM (SELECT DISTINCT user_id,
        |    CASE WHEN $coin % 2 = 0 THEN 'A' ELSE 'B' END AS g
        |    FROM events)),
        |daily AS (
        |  SELECT conv_day,
        |    CAST(sum(CASE WHEN $coin % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN $coin % 2 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS cb
        |  FROM conv GROUP BY conv_day),
        |grid AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |cum AS (
        |  SELECT day,
        |    CAST(sum(COALESCE(ca, 0)) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS xa,
        |    CAST(sum(COALESCE(cb, 0)) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS xb,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
        |  FROM grid LEFT JOIN daily ON grid.day = daily.conv_day),
        |kt AS (SELECT max(k) AS k_total FROM cum),
        |z AS (
        |  SELECT day, k, k_total, xa, xb, na, nb,
        |    CAST(xa AS HUGEINT) * nb - CAST(xb AS HUGEINT) * na AS d,
        |    CAST(na + nb AS HUGEINT) AS bn,
        |    CAST(xa + xb AS HUGEINT) AS bx,
        |    CAST(na AS HUGEINT) * nb AS nanb
        |  FROM cum, arms, kt)
        |SELECT strftime(day, '%Y-%m-%d') AS day, k, k_total, xa, xb,
        |  na, nb,
        |  CASE WHEN na > 0 AND nb > 0 AND bx > 0 AND bx < bn THEN
        |    CAST((1000000 * d * d * bn)
        |      // (nanb * bx * (bn - bx)) AS BIGINT)
        |  ELSE NULL END AS z2_e6,
        |  CASE WHEN na > 0 AND nb > 0 AND bx > 0 AND bx < bn THEN
        |    CAST(625 * d * d * bn * k >=
        |      3136 * k_total * nanb * bx * (bn - bx) AS BIGINT)
        |  ELSE 0 END AS crossed
        |FROM z ORDER BY day""".stripMargin
    },
    // same lead-gap dwell, HUGEINT totals, half-up exact mean
    "q313_state_dwell" ->
      """WITH d AS (
        |  SELECT event_type,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dwell_us
        |  FROM events QUALIFY dwell_us IS NOT NULL)
        |SELECT event_type, count(*) AS n_dwells,
        |  CAST(sum(CAST(dwell_us AS HUGEINT)) AS BIGINT) AS total_us,
        |  CAST((CAST(sum(CAST(dwell_us AS HUGEINT)) AS HUGEINT) * 2
        |    + count(*)) // (2 * count(*)) AS BIGINT) AS mean_us,
        |  CAST(max(dwell_us) AS BIGINT) AS max_us
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same 16 md5 buckets, exact e2 bucket means, lower-median pick,
    // exact overall mean
    "q314_median_of_means" -> {
      val coin = graft.functions.Hashing
        .md5U32Sql("CAST(event_id AS VARCHAR)")
      val c = graft.functions.Rounding.centsSql("value")
      s"""WITH b AS (
        |  SELECT event_type, $coin % 16 AS bkt, $c AS c
        |  FROM events WHERE value IS NOT NULL),
        |pb AS (
        |  SELECT event_type, bkt, count(*) AS n,
        |    sum(CAST(c AS HUGEINT)) AS s
        |  FROM b GROUP BY 1, 2),
        |bm AS (
        |  SELECT event_type,
        |    CAST((s * 200 + n) // (2 * n) AS BIGINT) AS bmean_e2
        |  FROM pb),
        |mom AS (
        |  SELECT event_type, count(*) AS n_buckets,
        |    (list_sort(list(bmean_e2)))[
        |      CAST((count(*) - 1) // 2 AS INTEGER) + 1] AS mom_e2
        |  FROM bm GROUP BY event_type),
        |ex AS (
        |  SELECT event_type, count(*) AS n_rows,
        |    CAST((sum(CAST(c AS HUGEINT)) * 200 + count(*))
        |      // (2 * count(*)) AS BIGINT) AS mean_e2
        |  FROM b GROUP BY event_type)
        |SELECT mom.event_type, n_rows, n_buckets, mom_e2, mean_e2,
        |  abs(mom_e2 - mean_e2) AS abs_gap_e2
        |FROM mom JOIN ex ON mom.event_type = ex.event_type
        |ORDER BY mom.event_type""".stripMargin
    },
    // same coin, same day grid, same floor-per-term e6 O−E and variance
    // terms, same half-up e4 z² through HUGEINT
    "q307_logrank" -> {
      val coin = graft.functions.Hashing
        .md5U32Sql("CAST(user_id AS VARCHAR)")
      s"""WITH span AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS first_day,
        |    CAST(max(ts) AS DATE) AS last_day,
        |    CASE WHEN $coin % 2 = 0 THEN 'A' ELSE 'B' END AS grp
        |  FROM events GROUP BY user_id),
        |ar AS (
        |  SELECT grp, last_day,
        |    CAST(unnest(generate_series(CAST(first_day AS TIMESTAMP),
        |      CAST(last_day AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM span),
        |lt AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN grp = 'A' AND day = last_day
        |      THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN grp = 'B' AND day = last_day
        |      THEN 1 ELSE 0 END) AS BIGINT) AS db
        |  FROM ar GROUP BY day),
        |t AS (
        |  SELECT na + nb AS n, da + db AS d, na, nb, da, db FROM lt
        |  WHERE na + nb >= 2 AND na > 0 AND nb > 0),
        |terms AS (
        |  SELECT
        |    CAST((1000000 * (CAST(da AS HUGEINT) * n
        |      - CAST(d AS HUGEINT) * na)) // n AS BIGINT) AS oe_e6,
        |    CAST((1000000 * CAST(d AS HUGEINT) * na * nb * (n - d))
        |      // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) AS v_e6
        |  FROM t),
        |agg AS (
        |  SELECT count(*) AS n_days_used,
        |    CAST(sum(CAST(oe_e6 AS HUGEINT)) AS BIGINT) AS oe_sum_e6,
        |    CAST(sum(CAST(v_e6 AS HUGEINT)) AS BIGINT) AS var_sum_e6
        |  FROM terms)
        |SELECT n_days_used, oe_sum_e6, var_sum_e6,
        |  CASE WHEN var_sum_e6 > 0 THEN
        |    CAST((CAST(oe_sum_e6 AS HUGEINT) * oe_sum_e6 * 20000
        |      + 1000000 * CAST(var_sum_e6 AS HUGEINT))
        |      // (2000000 * CAST(var_sum_e6 AS HUGEINT)) AS BIGINT)
        |  ELSE NULL END AS z2_e4
        |FROM agg""".stripMargin
    },
    // same two-lag path build, same (count desc, path asc) row_number
    "q308_path_trigrams" ->
      """WITH p AS (
        |  SELECT user_id,
        |    lag(event_type, 2) OVER w AS p2,
        |    lag(event_type, 1) OVER w AS p1,
        |    event_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |paths AS (
        |  SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*) AS n
        |  FROM p WHERE p2 IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT path, n, CAST(row_number() OVER (ORDER BY n DESC, path)
        |    AS BIGINT) AS rnk
        |  FROM paths)
        |SELECT rnk, path, n FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    // the same life table, then the e12 fixed-point KM recurrence as a
    // recursive CTE: HUGEINT // replays BigInt / exactly (both truncate
    // toward zero; operands nonnegative, products ≤ 10¹²·n < HUGEINT)
    "q294_km_curve" ->
      """WITH RECURSIVE span AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS first_day,
        |    CAST(max(ts) AS DATE) AS last_day
        |  FROM events GROUP BY user_id),
        |ar AS (
        |  SELECT user_id, last_day,
        |    CAST(unnest(generate_series(CAST(first_day AS TIMESTAMP),
        |      CAST(last_day AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM span),
        |lt AS (
        |  SELECT day, count(*) AS n,
        |    CAST(sum(CASE WHEN day = last_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM ar GROUP BY day),
        |ord AS (
        |  SELECT day, n, d, row_number() OVER (ORDER BY day) AS rn
        |  FROM lt),
        |km AS (
        |  SELECT rn, day, n, d,
        |    (CAST(1000000000000 AS HUGEINT) * (n - d)) // n AS s
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.day, o.n, o.d, (km.s * (o.n - o.d)) // o.n
        |  FROM km JOIN ord o ON o.rn = km.rn + 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n AS n_at_risk,
        |  d AS n_churned, CAST(s AS BIGINT) AS km_e12, true AS log_ok
        |FROM km ORDER BY day""".stripMargin,
    "q276_hazard_table" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH span AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS first_day,
        |    CAST(max(ts) AS DATE) AS last_day
        |  FROM events GROUP BY user_id),
        |ar AS (
        |  SELECT user_id, last_day,
        |    CAST(unnest(generate_series(CAST(first_day AS TIMESTAMP),
        |      CAST(last_day AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM span),
        |g AS (
        |  SELECT day, count(*) AS n_at_risk,
        |    CAST(sum(CASE WHEN day = last_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_churned
        |  FROM ar GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_at_risk, n_churned,
        |  ${intDivSql("1000000 * n_churned", "n_at_risk")} AS hazard_e6
        |FROM g ORDER BY day""".stripMargin
    },
    // the shared identity closure + the same two session arms
    "q275_stitched_sessions" ->
      s"""WITH RECURSIVE $identityCtes,
        |cl AS (
        |  SELECT id AS user_id, min(comp) AS identity_id
        |  FROM reach GROUP BY id),
        |raw_l AS (
        |  SELECT CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM (SELECT ts, lag(ts) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |st_l AS (
        |  SELECT CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM (SELECT e.ts, lag(e.ts) OVER (PARTITION BY cl.identity_id
        |          ORDER BY e.ts, e.event_id) AS prev_ts
        |        FROM events e JOIN cl ON e.user_id = cl.user_id))
        |SELECT 'raw_user' AS grain,
        |  CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM raw_l
        |UNION ALL
        |SELECT 'stitched_identity' AS grain,
        |  CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM st_l
        |ORDER BY grain""".stripMargin,
    // same md5 cohorts, same e4 cell means, same integer differencing
    "q269_diff_in_diff" -> {
      import graft.functions.Rounding.intDivExactSql
      val coin = graft.functions.Hashing
        .md5U32Sql("CAST(user_id AS VARCHAR)")
      val mean = intDivExactSql("CAST(t AS HUGEINT) * 20000 + n", "2 * n")
      s"""WITH cells AS (
        |  SELECT
        |    CASE WHEN $coin % 2 = 0 THEN 'treat' ELSE 'control' END
        |      AS variant,
        |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN 'pre' ELSE 'post' END AS period,
        |    count(*) AS n,
        |    ${Rounding.sumCentsSql(Rounding.centsSql("value"))} AS t
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT variant, period, $mean AS mean_e4 FROM cells),
        |p AS (
        |  SELECT
        |    max(CASE WHEN variant = 'treat' AND period = 'pre'
        |      THEN mean_e4 END) AS treat_pre,
        |    max(CASE WHEN variant = 'treat' AND period = 'post'
        |      THEN mean_e4 END) AS treat_post,
        |    max(CASE WHEN variant = 'control' AND period = 'pre'
        |      THEN mean_e4 END) AS control_pre,
        |    max(CASE WHEN variant = 'control' AND period = 'post'
        |      THEN mean_e4 END) AS control_post
        |  FROM m)
        |SELECT treat_pre, treat_post, control_pre, control_post,
        |  (treat_post - treat_pre) - (control_post - control_pre)
        |    AS did_e4
        |FROM p""".stripMargin
    },
    // ntile(5) IS the engine's bucketOf (GlobalRankSpec-proven), same
    // (metric DESC, user_id) total orders
    "q257_rfm_census" ->
      s"""WITH pu AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS freq,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN ${Rounding.centsSql("value")} ELSE 0 END) AS BIGINT)
        |      AS monetary
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT user_id, freq, monetary,
        |    6 - ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r,
        |    6 - ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
        |    6 - ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m
        |  FROM pu)
        |SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_cell,
        |  count(*) AS n_users,
        |  CAST(sum(freq) AS BIGINT) AS freq_total,
        |  CAST(sum(monetary) AS BIGINT) AS monetary_cents
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // same per-user purchase lag
    "q258_rapid_repeat" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (
        |  SELECT user_id, event_id, us,
        |    lag(us) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us,
        |    lag(event_id) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_id
        |  FROM p)
        |SELECT user_id, prev_id AS first_event, event_id AS repeat_event,
        |  CAST(us - prev_us AS BIGINT) AS gap_us
        |FROM l
        |WHERE us - prev_us <= 3600000000
        |ORDER BY user_id, repeat_event""".stripMargin,
    // same md5 coin, same exact-rational z², HUGEINT products
    "q256_ab_significance" -> {
      val coin = graft.functions.Hashing
        .md5U32Sql("CAST(user_id AS VARCHAR)")
      s"""WITH pu AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS converted,
        |    CASE WHEN $coin % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |agg AS (
        |  SELECT variant, count(*) AS n,
        |    CAST(sum(converted) AS BIGINT) AS x
        |  FROM pu GROUP BY variant),
        |ab AS (
        |  SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
        |  FROM (SELECT n, x FROM agg WHERE variant = 'A') a,
        |       (SELECT n, x FROM agg WHERE variant = 'B') b),
        |t AS (
        |  SELECT *,
        |    CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a AS d,
        |    CAST(n_a + n_b AS HUGEINT) AS nn,
        |    CAST(x_a + x_b AS HUGEINT) AS xx
        |  FROM ab)
        |SELECT n_a, x_a, n_b, x_b,
        |  CAST(625 * d * d * nn >
        |    2401 * CAST(n_a AS HUGEINT) * n_b * xx * (nn - xx)
        |    AS BIGINT) AS significant,
        |  CASE WHEN 625 * d * d * nn >
        |      2401 * CAST(n_a AS HUGEINT) * n_b * xx * (nn - xx)
        |    THEN CASE WHEN d > 0 THEN 'A' WHEN d < 0 THEN 'B'
        |      ELSE 'none' END
        |    ELSE 'none' END AS winner
        |FROM t""".stripMargin
    },
    // q97-style unrolled rounds over the transition matrix; HUGEINT
    // products mirror the engine's decimal widening
    "q255_markov_stationary" -> {
      import graft.functions.Rounding.{intDivSql, intDivExactSql}
      def round(prev: String, i: Int): String = {
        val m = intDivExactSql("CAST(p.mass AS HUGEINT) * ew.c", "ew.r")
        s"""c$i AS (
           |  SELECT ew.dst, $m AS m
           |  FROM $prev p JOIN ew ON p.state = ew.src),
           |s$i AS (
           |  SELECT dst, CAST(sum(m) AS BIGINT) AS mass
           |  FROM c$i GROUP BY dst),
           |p$i AS (
           |  SELECT st.state, coalesce(s$i.mass, 0) AS mass
           |  FROM states st LEFT JOIN s$i ON st.state = s$i.dst)""".stripMargin
      }
      s"""WITH tr AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events),
        |e AS (
        |  SELECT src, dst, count(*) AS c
        |  FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
        |rs AS (SELECT src, CAST(sum(c) AS BIGINT) AS r FROM e GROUP BY src),
        |ew AS (SELECT e.src, e.dst, e.c, rs.r FROM e JOIN rs USING (src)),
        |states AS (SELECT src AS state FROM ew UNION SELECT dst FROM ew),
        |ns AS (SELECT count(*) AS n FROM states),
        |p0 AS (
        |  SELECT state, ${intDivSql("1000000000000", "ns.n")} AS mass
        |  FROM states, ns),
        |${round("p0", 1)},
        |${round("p1", 2)},
        |${round("p2", 3)},
        |${round("p3", 4)}
        |SELECT state AS event_type, mass FROM p4
        |ORDER BY event_type""".stripMargin
    },
    // the same Lindley rewrite (running sum then running min), final
    // balance via the lexicographic struct max, all integer
    "q252_capped_balance" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'purchase' THEN ${Rounding.centsSql("value")}
        |         WHEN event_type = 'error' THEN -${Rounding.centsSql("value")}
        |         ELSE 0 END AS d
        |  FROM events),
        |r1 AS (
        |  SELECT user_id, event_id, ts, d,
        |    sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_run
        |  FROM e),
        |r2 AS (
        |  SELECT *, least(min(s_run) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS m_run
        |  FROM r1),
        |b AS (
        |  SELECT user_id, ts, event_id, s_run - m_run AS bal, m_run
        |  FROM r2)
        |SELECT user_id, count(*) AS n_moves,
        |  CAST((max(struct_pack(ts := ts, event_id := event_id,
        |    bal := bal))).bal AS BIGINT) AS final_balance,
        |  CAST(max(bal) AS BIGINT) AS peak_balance,
        |  CAST(-min(m_run) AS BIGINT) AS floor_absorbed
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q63's session frame, features restated column by column
    "q245_session_features" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events,
        |  CAST(max(us) - min(us) AS BIGINT) AS duration_us,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_signup,
        |  CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the NULL span of a user's first two events falls out of both the
    // CASE (no THEN branch) and min() identically
    "q246_burst_census" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts), 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS us2
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN us - us2 <= 10000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bursts,
        |  CAST(min(us - us2) AS BIGINT) AS min_span_us
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the shared closure + per-identity survivorship rules; dominant
    // type is the same min-struct argmax
    "q247_golden_record" ->
      s"""WITH RECURSIVE $identityCtes,
        |cl AS (
        |  SELECT id AS user_id, min(comp) AS identity_id
        |  FROM reach GROUP BY id),
        |e AS (
        |  SELECT cl.identity_id, ev.user_id, ev.event_type, ev.ts,
        |    CAST(floor(ev.value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events ev JOIN cl ON ev.user_id = cl.user_id),
        |base AS (
        |  SELECT identity_id,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    count(*) AS n_events,
        |    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
        |    strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
        |    CAST(sum(cents) AS BIGINT) AS lifetime_cents
        |  FROM e GROUP BY 1),
        |tc AS (
        |  SELECT identity_id, event_type, count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |dom AS (
        |  SELECT identity_id,
        |    min(struct_pack(nn := -n, t := event_type)) AS m
        |  FROM tc GROUP BY 1)
        |SELECT base.identity_id, n_users, n_events, first_seen, last_seen,
        |  lifetime_cents, m.t AS dominant_type
        |FROM base JOIN dom ON base.identity_id = dom.identity_id
        |ORDER BY base.identity_id""".stripMargin,
    // same U-shape credit table; NOT EXISTS is the engine's left-anti,
    // the remainder lands on rn = 2 identically
    "q233_attribution" -> {
      import graft.functions.Rounding.intDivSql
      val share = intDivSql("200000", "k - 2")
      s"""WITH purchases AS (
        |  SELECT user_id, event_id AS p_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |touches AS (
        |  SELECT user_id, event_id AS t_id, event_type AS touch_type,
        |    ts AS t_ts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |joined AS (
        |  SELECT p.p_id, t.touch_type, t.t_ts, t.t_id
        |  FROM purchases p JOIN touches t ON p.user_id = t.user_id
        |  WHERE t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
        |pos AS (
        |  SELECT p_id, touch_type,
        |    CAST(row_number() OVER (PARTITION BY p_id
        |      ORDER BY t_ts, t_id) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY p_id) AS k
        |  FROM joined),
        |cred AS (
        |  SELECT p_id, touch_type,
        |    CASE WHEN k = 1 THEN 1000000
        |         WHEN k = 2 THEN 500000
        |         WHEN rn = 1 OR rn = k THEN 400000
        |         ELSE $share + CASE WHEN rn = 2
        |           THEN 200000 - $share * (k - 2) ELSE 0 END
        |    END AS credit
        |  FROM pos),
        |direct AS (
        |  SELECT p.p_id, 'direct' AS touch_type, 1000000 AS credit
        |  FROM purchases p
        |  WHERE NOT EXISTS (SELECT 1 FROM cred c WHERE c.p_id = p.p_id)),
        |allc AS (
        |  SELECT * FROM cred UNION ALL SELECT * FROM direct)
        |SELECT touch_type, count(*) AS n_credits,
        |  CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
        |  CAST(sum(credit) AS BIGINT) AS credit_e6
        |FROM allc GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // identical chained windows (DuckDB min over a named STRUCT is the
    // same lexicographic argmin); sentinel keeps the second hop total
    "q222_timed_funnel" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us
         |  FROM events),
         |w1 AS (
         |  SELECT *, min(CASE WHEN event_type = 'purchase' THEN us END)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id
         |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |      AS np_us
         |  FROM e),
         |w2 AS (
         |  SELECT *, min(CASE WHEN event_type = 'click' THEN
         |        {'c_us': us,
         |         'p_us': coalesce(np_us, 9223372036854775807)} END)
         |      OVER (PARTITION BY user_id ORDER BY us, event_id
         |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |      AS nc
         |  FROM w1),
         |v AS (
         |  SELECT CAST(hour(ts) AS BIGINT) AS hr,
         |    CAST(nc IS NOT NULL
         |      AND nc.c_us - us <= 3600000000 AS INT) AS c,
         |    CAST(nc IS NOT NULL AND nc.c_us - us <= 3600000000
         |      AND nc.p_us - nc.c_us <= 3600000000 AS INT) AS f
         |  FROM w2 WHERE event_type = 'view'),
         |agg AS (
         |  SELECT hr, count(*) AS n_views,
         |    CAST(sum(c) AS BIGINT) AS n_clicked_1h,
         |    CAST(sum(f) AS BIGINT) AS n_full_funnel
         |  FROM v GROUP BY hr)
         |SELECT hr, n_views, n_clicked_1h, n_full_funnel,
         |  ${intDivExactSql("CAST(n_clicked_1h AS HUGEINT) * 1000000",
            "n_views")} AS click_rate_e6,
         |  ${intDivExactSql("CAST(n_full_funnel AS HUGEINT) * 1000000",
            "n_views")} AS full_rate_e6
         |FROM agg ORDER BY hr""".stripMargin
    },
    "q208_lateness_calibration" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        |l AS (
        |  SELECT event_type,
        |    max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us
        |      AS late_us
        |  FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(max(late_us) AS BIGINT) AS max_late_us,
        |  CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_1m,
        |  CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_5m
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q188_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS dn
        |  FROM events),
        |r AS (
        |  SELECT user_id, dn,
        |    dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, grp, count(*) AS len FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS longest_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q189_activity_bitmask" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS dn
        |  FROM events),
        |d AS (SELECT * FROM days WHERE dn BETWEEN 0 AND 62)
        |SELECT user_id,
        |  CAST(bit_or(CAST(1 AS BIGINT) << CAST(dn AS INTEGER)) AS BIGINT)
        |    AS days_mask,
        |  count(*) AS n_active_days,
        |  min(dn) AS first_dn, max(dn) AS last_dn,
        |  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(dn AS INTEGER)))
        |    AS BIGINT) AS mask_popcount
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q182_conversion_survival" ->
      """WITH fc AS (
        |  SELECT user_id, min(ts) AS fc FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |fp AS (
        |  SELECT e.user_id, min(e.ts) AS fp
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fc.fc
        |  GROUP BY 1),
        |delays AS (
        |  SELECT coalesce(CAST(date_diff('day', CAST(fc.fc AS DATE),
        |    CAST(fp.fp AS DATE)) AS BIGINT), -1) AS delay
        |  FROM fc LEFT JOIN fp ON fc.user_id = fp.user_id),
        |hist AS (SELECT delay, count(*) AS n FROM delays GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(0, 14)) AS day)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(sum(CASE WHEN delay >= day OR delay = -1 THEN n ELSE 0 END)
        |    AS BIGINT) AS n_at_risk,
        |  CAST(sum(CASE WHEN delay = day THEN n ELSE 0 END) AS BIGINT)
        |    AS n_converted,
        |  CASE WHEN sum(CASE WHEN delay >= day OR delay = -1 THEN n
        |      ELSE 0 END) > 0 THEN
        |    CAST(CAST(sum(CASE WHEN delay = day THEN n ELSE 0 END)
        |        AS HUGEINT) * 1000000 //
        |      CAST(sum(CASE WHEN delay >= day OR delay = -1 THEN n
        |        ELSE 0 END) AS HUGEINT) AS BIGINT)
        |  END AS hazard_ppm
        |FROM grid CROSS JOIN hist
        |GROUP BY day ORDER BY day""".stripMargin,
    "q69_cdc_merge" -> {
      import graft.functions.Rounding.roundfSql
      s"""WITH base AS (
        |  SELECT event_id, user_id, event_type, value, ts FROM events),
        |tagged AS (
        |  SELECT *, 0 AS src, false AS del FROM base
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value + 100 AS value,
        |    ts + INTERVAL 1 HOUR AS ts, 1, false
        |  FROM base WHERE event_id % 7 = 0 AND event_id % 13 <> 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value, ts, 1, true
        |  FROM base WHERE event_id % 13 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_id ORDER BY ts DESC, src DESC) AS rn
        |  FROM tagged)
        |SELECT event_id, user_id, event_type,
        |  ${roundfSql("value", 2)} AS value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
        |FROM ranked WHERE rn = 1 AND NOT del
        |ORDER BY event_id""".stripMargin
    },
    "q68_salted_join" -> {
      import graft.functions.Rounding.{centsSql, roundfSql, sumExactSql}
      s"""SELECT c_mktsegment, count(*) AS n,
         |  ${roundfSql(sumExactSql(centsSql("value")) + " / 100.0", 2)} AS sum_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    },
    "q62_stratified_sample" ->
      s"""SELECT event_id, event_type, user_id
        |FROM events
        |WHERE ${Hashing.md5UniformSql("CAST(event_id AS VARCHAR)")}
        |    < CASE event_type WHEN 'purchase' THEN 1.0
        |                      WHEN 'click' THEN 0.1
        |                      WHEN 'view' THEN 0.05
        |                      ELSE 0.2 END
        |ORDER BY event_id""".stripMargin,
    "q63_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE AS BIGINT)
        |      AS new_sess
        |  FROM l),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q85_rolling_window" ->
      """WITH ev AS (
        |  -- floor, not CAST: epoch() is fractional on sub-second
        |  -- timestamps and DuckDB's double→BIGINT cast rounds to nearest,
        |  -- while Spark's unix_timestamp floors
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
        |  FROM events)
        |SELECT event_id, user_id, ep,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(vc AS DECIMAL(38,0))) OVER w AS BIGINT)
        |    AS sum_1h_cents
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ep
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q88_funnel" -> q88Sql,
    "q96_weighted_sample" -> {
      val u = Hashing.md5UniformSql("CAST(event_id AS VARCHAR)")
      s"""WITH keyed AS (
         |  SELECT event_id, event_type,
         |    CASE WHEN event_type = 'purchase' THEN sqrt(sqrt($u))
         |         WHEN event_type = 'click' THEN sqrt($u)
         |         ELSE $u END AS k
         |  FROM events)
         |SELECT event_id, event_type,
         |  CAST(floor(k * 1000000000000.0 + 0.5) AS BIGINT) AS key_e12
         |FROM keyed
         |ORDER BY k DESC, event_id LIMIT 200""".stripMargin
    },
    "q127_cohort_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |f AS (
        |  SELECT user_id, wk,
        |    min(wk) OVER (PARTITION BY user_id) AS w0
        |  FROM wk)
        |SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', w0, wk) / 7 AS BIGINT) AS week_offset,
        |  count(*) AS users
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q133_rolling_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |b AS (SELECT max(d) AS dmax FROM ud),
        |x AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
        |      CAST(least(d + 6, dmax) AS TIMESTAMP), INTERVAL 1 DAY))
        |      AS DATE) AS day
        |  FROM ud CROSS JOIN b)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS dau_7d
        |FROM x GROUP BY day ORDER BY day""".stripMargin,
    "q137_transitions" ->
      """WITH l AS (
        |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), '_start') AS from_type,
        |    event_type AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q142_interarrival" ->
      """WITH e AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ep
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    ep - lag(ep) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS gap
        |  FROM e)
        |SELECT event_type, count(*) AS n_gaps,
        |  min(gap) AS min_s, max(gap) AS max_s,
        |  CAST(floor(quantile_cont(gap, 0.5) * 10.0 + 0.5) AS BIGINT)
        |    AS p50_e1,
        |  CAST(floor(quantile_cont(gap, 0.95) * 10.0 + 0.5) AS BIGINT)
        |    AS p95_e1
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}
