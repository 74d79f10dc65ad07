package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.Rounding.{cents, roundf, sumExact}
import graft.functions.WeightedAvg
import graft.operators.CheckpointBlocks.checkpoint

/** Second breadth wave: as-of join, exact distinct counts, typed
  * Aggregator, pivot, exact percentiles, statistical aggregates, date
  * functions, and vector column stats. */
object ExtraQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** As-of join (latest click at-or-before each purchase, per user) via the
    * union + running-last trick: tag both sides, one window over the merged
    * time-ordered stream per user carries the last click forward. One
    * shuffle+sort total — no range-join blowup, scales linearly. Spark has
    * no native as-of join; DuckDB's ASOF LEFT JOIN is the oracle. */
  /** Contractual tie rule: several clicks can share (user_id, ts), and
    * which one an as-of join surfaces would otherwise be engine-unspecified
    * (DuckDB's ASOF picks an arbitrary equal-timestamp row). Both the
    * Spark queries and the oracles therefore pre-dedup the click side per
    * (user_id, ts) keeping max(event_id) — the comparison is contractual,
    * not corpus-luck. */
  private def dedupClicks(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"))

  private def q25(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = dedupClicks(ev).select(
      col("user_id"), col("ts"), lit(0).as("kind"),
      lit(null).cast("long").as("p_id"),
      col("event_id").as("c_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(1).as("kind"),
      col("event_id").as("p_id"),
      lit(null).cast("long").as("c_id"),
      lit(null).cast("timestamp").as("c_ts"))
    // at equal ts a click sorts before the purchase → inclusive (ts >=);
    // clicks are unique per (user_id, ts) after dedupClicks, so the c_id
    // ordering's remaining job is keeping purchase rows (null c_id,
    // nulls-last) after their same-timestamp clicks
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("c_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_id", last(col("c_id"), ignoreNulls = true).over(w))
      .withColumn("click_ts", last(col("c_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("p_id"), col("user_id"),
        date_format(col("ts"), fmt).as("p_ts"),
        col("click_id"),
        date_format(col("click_ts"), fmt).as("click_ts"))
      .orderBy("p_id")
  }

  /** The SAME as-of semantics as q25, through the engine's native
    * AsofJoin operator (graft.plans: custom LogicalPlan + Strategy +
    * merge-scan SparkPlan) instead of the union+window composition —
    * checked against the identical DuckDB ASOF LEFT JOIN oracle, which is
    * the correctness proof for the custom operator at data scale. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
    val clicks = dedupClicks(ev)
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    graft.plans.AsofJoinOps
      .asofLeft(purchases, clicks, "user_id", "c_uid", "ts", "c_ts", "c_id")
      .select(col("p_id"), col("user_id"),
        date_format(col("ts"), fmt).as("p_ts"),
        col("c_id").as("click_id"),
        date_format(col("c_ts"), fmt).as("click_ts"))
      .orderBy("p_id")
  }

  /** Exact distinct counts (multi-column) per group. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")

  /** Typed Aggregator surface: weighted average of value by the JSON k
    * weight, per event type. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    // null k (props without the key) becomes weight 0: it adds nothing to
    // either partial sum — same as the oracle's null-skipping sums — but
    // keeps the GROUP, so an event_type with no k still emits wavg 0.0
    // (WeightedAvg.finish maps zero total weight to 0.0, matching the
    // oracle's coalesce(..., 0.0)).
    val ds = t(s, dir, "events")
      .select(col("event_type"),
        col("value"),
        coalesce(
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long"),
          lit(0L)).as("k"))
      .as[(String, Double, Long)]
    ds.groupByKey(_._1)
      .mapValues(e => (e._2, e._3))
      .agg(WeightedAvg.toColumn.name("wavg_raw"))
      .toDF("event_type", "wavg_raw")
      .select(col("event_type"), roundf(col("wavg_raw"), 4).as("wavg"))
      .orderBy("event_type")
  }

  /** Pivot: per-user event-type counts as columns (explicit value list —
    * no extra distinct pass, deterministic column order). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = t(s, dir, "events")
      .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
    pivoted.select(col("user_id") +:
      types.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
      .orderBy("user_id")
  }

  /** Exact interpolated percentiles per group — computed over integral
    * cents, not raw doubles: `value` is 2-decimal-grained, so raw p50
    * midpoints land exactly ON the .xxx5 rounding boundary where the two
    * engines' interpolation formulas can differ by an ulp and flip the
    * floor. Integer inputs make the f=0.5 midpoint exact in both engines,
    * and the single /100.0 at the end is the identical IEEE op. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val c = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        roundf(expr(s"percentile($c, 0.5)") / 100.0, 4).as("p50"),
        roundf(expr(s"percentile($c, 0.9)") / 100.0, 4).as("p90"),
        roundf(expr(s"percentile($c, 0.99)") / 100.0, 4).as("p99"))
      .orderBy("event_type")
  }

  /** Statistical aggregates: correlation/covariance/stddev/variance of
    * value vs the JSON k weight. */
  private def q34(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), col("value"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        roundf(corr(col("value"), col("k")), 4).as("corr_vk"),
        roundf(covar_samp(col("value"), col("k")), 4).as("covar_vk"),
        roundf(stddev_samp(col("value")), 4).as("sd_value"),
        roundf(var_samp(col("value")), 4).as("var_value"))
      .orderBy("event_type")

  /** Date/time scalar functions over orders. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        // timestamp + INTERVAL (not date_add, which truncates time-of-day)
        // so non-midnight timestamps agree with the oracle's + INTERVAL
        date_format(col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "yyyy-MM-dd").as("plus30"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
          .as("month_end"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_epoch95"))
      .orderBy("o_orderkey")

  /** Vector column stats per label: norms and mean component via
    * higher-order array functions (codegen, no UDF). */
  private def q52(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        expr("sqrt(aggregate(transform(embedding, x -> cast(x as double)), " +
          "cast(0.0 as double), (acc, x) -> acc + x * x))").as("norm"),
        expr("aggregate(transform(embedding, x -> cast(x as double)), " +
          "cast(0.0 as double), (acc, x) -> acc + x) / 64").as("mean_comp"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        roundf(avg("norm"), 4).as("avg_norm"),
        roundf(avg("mean_comp"), 6).as("avg_mean_comp"),
        roundf(min("mean_comp"), 6).as("min_mean_comp"),
        roundf(max("mean_comp"), 6).as("max_mean_comp"))
      .orderBy("label")

  /** Correlated scalar subquery through the engine's SQL surface
    * (GraftSql): Catalyst decorrelates it into an aggregate + outer join.
    * The statement is byte-identical to the oracle. */
  private val q46Sql =
    """SELECT o_orderkey,
      |  coalesce((SELECT count(*) FROM lineitem
      |            WHERE l_orderkey = o_orderkey), 0) AS n_items
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private def q46(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.run(s, dir, q46Sql)

  /** CUBE grouping sets (all four combinations of the two keys). */
  private def q47(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        roundf(sumExact(cents(col("l_extendedprice"))) / 100.0, 2)
          .as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_price"))
      .orderBy("returnflag", "linestatus")

  /** Explicit window frames: running sum (rows unbounded preceding),
    * 5-row moving average, first_value and nth_value per user in time
    * order. Frame prefixes accumulate in one fixed order on both engines,
    * so even the running sums hash-match. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = w.rowsBetween(-4, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        roundf(sum("value").over(run), 2).as("running_sum"),
        roundf(avg("value").over(mov), 4).as("moving_avg5"),
        first("value").over(run).as("first_value"),
        nth_value(col("value"), 3).over(run).as("third_value"))
      .orderBy("user_id", "event_id")
  }

  /** Ranking-function breadth: row_number / rank / dense_rank / ntile(4)
    * plus an exact percent-rank substitute, in one window pass per frame.
    * Two orderings exercised deliberately: a UNIQUE one (price cents,
    * orderkey) where every ranking function is trivially deterministic,
    * and a TIES-heavy one (orderstatus) where rank/dense_rank semantics
    * must agree across engines. percent_rank itself returns a double from
    * one division — replaced by ⌊10⁶·(rn−1)/(n−1)⌋ in exact integer
    * arithmetic ([[graft.functions.Rounding.intDiv]]), same policy as the
    * other de-floated outputs. Spark's ranking functions return INT where
    * DuckDB's return BIGINT, so everything casts to long explicitly. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("prio"), col("o_orderstatus").as("st"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("pc"))
    val wu = Window.partitionBy("prio").orderBy(col("pc"), col("o_orderkey"))
    val wt = Window.partitionBy("prio").orderBy(col("st"))
    val wp = Window.partitionBy("prio")
    o.select(col("o_orderkey"), col("prio"),
        row_number().over(wu).cast("long").as("rn"),
        ntile(4).over(wu).cast("long").as("quartile"),
        rank().over(wt).cast("long").as("rnk"),
        dense_rank().over(wt).cast("long").as("drnk"),
        count(lit(1)).over(wp).as("n_part"))
      .select(col("o_orderkey"), col("prio"), col("rn"), col("quartile"),
        col("rnk"), col("drnk"),
        intDiv(lit(1000000L) * (col("rn") - 1L), col("n_part") - 1L)
          .as("pr_e6"))
      .orderBy("prio", "rn")
  }

  /** Third/fourth moment statistics (population skewness and excess
    * kurtosis) per group — NOT via the engines' skewness()/kurtosis()
    * builtins, whose definitions disagree (Spark computes population
    * moments, DuckDB bias-corrected sample moments). Instead: one
    * aggregation of exact integer power sums (Σx..Σx⁴ through
    * decimal(38,0) on the Spark side, HUGEINT-exact in DuckDB — x⁴ at
    * ~10²⁰ overflows int64, so the cast comes BEFORE the multiply), then
    * one shared double formula on identical integers, e6-floored. x^1.5
    * is spelled m2·√m2 — sqrt is IEEE-correctly-rounded where pow() is
    * libm-dependent. The q82 exact-sums discipline at order 4. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("x"))
    val xd = col("x").cast("decimal(38,0)")
    ev.groupBy("event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(xd).cast("double").as("s1"),
        sum(xd * col("x")).cast("double").as("s2"),
        sum(xd * col("x") * col("x")).cast("double").as("s3"),
        sum(xd * col("x") * col("x") * col("x")).cast("double").as("s4"))
      .select(col("event_type"), col("n").cast("long").as("n_rows"),
        expr(momentExprSql).as("skew_e6"),
        expr(kurtExprSql).as("kurt_e6"))
      .orderBy("event_type")
  }

  // shared formula text — the same character-for-character expression
  // compiles in both engines, so the double op sequence cannot diverge
  private val m2Sql = "(s2 / n - (s1 / n) * (s1 / n))"
  private val m3Sql =
    "(s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
  private val m4Sql =
    "(s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)" +
      " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
  private val momentExprSql =
    s"CAST(floor(($m3Sql / ($m2Sql * sqrt($m2Sql))) * 1000000.0 + 0.5) AS BIGINT)"
  private val kurtExprSql =
    s"CAST(floor(($m4Sql / ($m2Sql * $m2Sql) - 3.0) * 1000000.0 + 0.5) AS BIGINT)"

  /** Conditional-aggregation breadth — FILTER clauses, CASE-sums,
    * count_if, bool_and/bool_or — as ONE SQL text both engines run
    * verbatim ([[graft.GraftSql]], the q73 shared-text pattern), so the
    * check pins dialect compatibility of the conditional forms
    * themselves. Integer/boolean outputs only. */
  private val q104Sql: String =
    """SELECT event_type,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE value IS NULL) AS n_null,
      |  CAST(count_if(CAST(floor(value * 100.0 + 0.5) AS BIGINT) > 5000)
      |    AS BIGINT) AS n_gt50,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_case,
      |  min(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
      |    FILTER (WHERE value IS NOT NULL) AS min_c_nn,
      |  bool_and(length(event_type) > 0) AS all_typed,
      |  bool_or(value IS NULL) AS any_null
      |FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private def q104(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.run(s, dir, q104Sql)

  /** Value-window breadth: first_value / last_value / nth_value with
    * IGNORE NULLS over the full partition frame — the per-entity
    * "opening, closing, and third non-null reading" report, one row per
    * user. The null-skipping forms are genuinely exercised (events.value
    * has planted nulls), the frame is explicit full-partition (default
    * last_value frames end at CURRENT ROW — a classic silent-wrong-answer
    * trap in both engines), ordering is (ts, event_id)-deterministic, and
    * values ride the exact cents grid. One shuffle on user_id serves all
    * four window columns plus the row_number that collapses to one row
    * per user. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.cents
    val wf = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).as("vc"))
      .select(col("user_id"),
        row_number().over(wo).as("rn"),
        expr("first_value(vc) IGNORE NULLS").over(wf).as("first_vc"),
        expr("last_value(vc) IGNORE NULLS").over(wf).as("last_vc"),
        expr("nth_value(vc, 3) IGNORE NULLS").over(wf).as("third_vc"),
        count(lit(1)).over(wf).as("n_events"))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("user_id")
  }

  /** percentile_cont WITHOUT floats: the exact linear-interpolated p50 /
    * p90 per event type, emitted on an e2-of-cents integer grid. The
    * standard definition pos = (n-1)·p/100 splits into integer rank and
    * integer hundredths-fraction; the interpolated value
    * v_lo·(100-frac) + v_hi·frac is then pure int64 arithmetic — no
    * engine's percentile/quantile built-in is in the loop on EITHER
    * side, so there is no interpolation-rounding channel to diverge
    * through (the q107 exact-median discipline extended to arbitrary
    * p). Ties need no ordering tiebreak: equal ranks hold equal values.
    * One shuffle (the per-type sort window); the rank filter collapses
    * to ≤ 4 rows per type before the aggregate. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.cents
    val w = Window.partitionBy("event_type").orderBy("vc")
    val wp = Window.partitionBy("event_type")
    def pick(p: Int, rn: Column, n: Column, vc: Column): Column = {
      val idx = (n - 1) * p                  // position scaled by 100
      val loRn = (idx - idx % 100) / 100 + 1 // integer rank, 1-based
      val frac = idx % 100                   // hundredths remainder
      val hiRn = loRn + (frac > 0).cast("long")
      max(when(rn === loRn, vc)) * (lit(100) - max(frac)) +
        max(when(rn === hiRn, vc)) * max(frac)
    }
    t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), cents(col("value")).as("vc"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wp))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        pick(50, col("rn"), col("n"), col("vc")).as("p50_e4"),
        pick(90, col("rn"), col("n"), col("vc")).as("p90_e4"))
      .orderBy("event_type")
  }

  /** Multiple COUNT(DISTINCT …) over different columns in one aggregation
    * — the shape Catalyst plans through an Expand (each input row fans
    * out once per distinct column, tagged by a grouping id) so ONE
    * shuffle serves all the distinct sets instead of one scan + join per
    * count. The plain count rides along unexpanded. */
  private def q160(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"),
        countDistinct("day").as("n_days"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Year-over-year spend-decile migration matrix: each customer's 1996
    * spend decile vs their 1997 decile, counted — the churn/upsell
    * dashboard, and the engine's showcase for EXACT global ranking at
    * scale. A partition-less `ntile(10) OVER (ORDER BY spend)` puts the
    * whole year in ONE task on every SQL engine; here each year's decile
    * comes from [[graft.operators.GlobalRank]] (range-repartitioned
    * two-pass rank, every partition bounded) and
    * [[graft.operators.GlobalRank.bucketOf]], which reproduces the
    * NTILE bucket function as pure integer arithmetic — the oracle runs
    * DuckDB's own ntile() and must agree bucket-for-bucket (the q61/q25
    * discipline: the scalable formulation provably equals the builtin).
    * Spend is exact integer cents; (spend DESC, custkey) is a total
    * order, so every rank and bucket is deterministic. */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{cents => c, sumCents}
    import graft.operators.GlobalRank
    // localCheckpoint (r20, guide §1.2): both year arms read this
    // customer-grain table, and each arm's GlobalRank materializes its
    // input eagerly — without the checkpoint the orders scan + spend
    // aggregation ran once per arm. O(customers) rows, checkpoint-safe.
    val spend = Tables.load(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).as("yr"))
      .agg(sumCents(c(col("o_totalprice"))).as("spend_cents"))
      .transform(checkpoint)
    // withRankN (r21, guide §1.2): the decile split needs n alongside
    // the rank, and the rank pass has already collected it — each arm's
    // count() aggregate + broadcast cross join went with it.
    def deciles(y: Int): DataFrame = {
      val one = spend.filter(col("yr") === y)
      val (ranked, n) = GlobalRank.withRankN(one, "rnk",
        col("spend_cents").desc, col("custkey").asc)
      ranked.select(col("custkey"),
        GlobalRank.bucketOf(col("rnk"), lit(n), 10).as(s"decile_$y"))
    }
    deciles(1996).join(deciles(1997), "custkey")
      .groupBy("decile_1996", "decile_1997")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy("decile_1996", "decile_1997")
  }

  /** Exact weighted median of event value per type (weight = payload
    * size): the smallest value whose cumulative weight reaches half the
    * total — the deterministic lower-median rule, all integer (cents ×
    * int64 weights through decimal accumulators, the half test an exact
    * cross-multiplication). Shape: one (type, value) pre-aggregation
    * collapses duplicate values BEFORE the windows, so the running-weight
    * window runs over per-type DISTINCT values (bounded by the value
    * grid, not the row count); the engines' own weighted-percentile
    * builtins disagree on interpolation, hence the explicit rule (the
    * q103 skewness lesson). */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull && col("props").isNotNull)
      .select(col("event_type"), cents(col("value")).as("v"),
        length(col("props")).cast("long").as("w"))
    val pv = e.groupBy("event_type", "v")
      .agg(sum(col("w").cast("decimal(38,0)")).cast("long").as("w"))
    val wRun = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    pv.withColumn("cumw",
        sum(col("w").cast("decimal(38,0)")).over(wRun).cast("long"))
      .withColumn("tw",
        sum(col("w").cast("decimal(38,0)")).over(wAll).cast("long"))
      .filter(col("cumw").cast("decimal(38,0)") * lit(2L) >=
        col("tw").cast("decimal(38,0)"))
      .groupBy("event_type")
      .agg(min("v").as("median_cents"), max("tw").as("total_weight"))
      .orderBy("event_type")
  }

  val defs: Map[String, Q] = Map(
    "q183_weighted_median" -> (q183 _),
    "q174_decile_migration" -> (q174 _),
    "q152_value_windows" -> (q152 _),
    "q158_exact_percentiles" -> (q158 _),
    "q160_multi_distinct" -> (q160 _),
    "q46_correlated_subquery" -> (q46 _),
    "q47_cube" -> (q47 _),
    "q48_window_frames" -> (q48 _),
    "q25_asof_join" -> (q25 _),
    "q61_asof_native" -> (q61 _),
    "q26_distinct_count" -> (q26 _),
    "q27_typed_agg" -> (q27 _),
    "q28_pivot" -> (q28 _),
    "q29_percentiles" -> (q29 _),
    "q34_stats_agg" -> (q34 _),
    "q35_date_funcs" -> (q35 _),
    "q52_vector_stats" -> (q52 _),
    "q102_rank_breadth" -> (q102 _),
    "q103_moments" -> (q103 _),
    "q104_cond_agg" -> (q104 _))

  private val kExpr = """CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)"""

  val oracle: Map[String, String] = Map(
    "q183_weighted_median" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
        |    CAST(length(props) AS BIGINT) AS w
        |  FROM events WHERE value IS NOT NULL AND props IS NOT NULL),
        |pv AS (
        |  SELECT event_type, v,
        |    CAST(sum(CAST(w AS DECIMAL(38,0))) AS BIGINT) AS w
        |  FROM e GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, v,
        |    CAST(sum(CAST(w AS DECIMAL(38,0))) OVER (PARTITION BY event_type
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumw,
        |    CAST(sum(CAST(w AS DECIMAL(38,0))) OVER (PARTITION BY event_type)
        |      AS BIGINT) AS tw
        |  FROM pv)
        |SELECT event_type, min(v) AS median_cents, max(tw) AS total_weight
        |FROM c WHERE CAST(cumw AS HUGEINT) * 2 >= CAST(tw AS HUGEINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q174_decile_migration" ->
      s"""WITH spend AS (
        |  SELECT o_custkey AS custkey, year(o_orderdate) AS yr,
        |    ${graft.functions.Rounding.sumCentsSql(
             graft.functions.Rounding.centsSql("o_totalprice"))} AS spend_cents
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |d96 AS (
        |  SELECT custkey, CAST(ntile(10) OVER
        |    (ORDER BY spend_cents DESC, custkey) AS BIGINT) AS decile_1996
        |  FROM spend WHERE yr = 1996),
        |d97 AS (
        |  SELECT custkey, CAST(ntile(10) OVER
        |    (ORDER BY spend_cents DESC, custkey) AS BIGINT) AS decile_1997
        |  FROM spend WHERE yr = 1997)
        |SELECT decile_1996, decile_1997, count(*) AS n_custs
        |FROM d96 JOIN d97 USING (custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q160_multi_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT)
        |    AS n_days,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q158_exact_percentiles" -> {
      def pSql(p: Int): String = {
        val idx = s"((n - 1) * $p)"
        val lo = s"(CAST(($idx - ($idx % 100)) / 100 AS BIGINT) + 1)"
        val fr = s"($idx % 100)"
        val hi = s"($lo + CAST($fr > 0 AS BIGINT))"
        s"""CAST(max(CASE WHEN rn = $lo THEN vc END) * (100 - max($fr)) +
           | max(CASE WHEN rn = $hi THEN vc END) * max($fr) AS BIGINT)"""
          .stripMargin.replace("\n", "")
      }
      s"""WITH e AS (
         |  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT)
         |    AS vc
         |  FROM events WHERE value IS NOT NULL),
         |r AS (
         |  SELECT event_type, vc,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY vc)
         |      AS BIGINT) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM e)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |  ${pSql(50)} AS p50_e4,
         |  ${pSql(90)} AS p90_e4
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "q152_value_windows" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
        |  FROM events)
        |SELECT user_id, first_vc, last_vc, third_vc, n_events FROM (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    first_value(vc IGNORE NULLS) OVER w AS first_vc,
        |    last_value(vc IGNORE NULLS) OVER w AS last_vc,
        |    nth_value(vc, 3 IGNORE NULLS) OVER w AS third_vc,
        |    count(*) OVER w AS n_events
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q46_correlated_subquery" -> q46Sql,
    "q47_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n_rows, floor((CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 100.0 + 0.5) / 100.0 AS sum_price
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q48_window_frames" ->
      """SELECT user_id, event_id,
        |  floor((sum(value) OVER w_run) * 100.0 + 0.5) / 100.0 AS running_sum,
        |  floor((avg(value) OVER w_mov) * 10000.0 + 0.5) / 10000.0 AS moving_avg5,
        |  first_value(value) OVER w_run AS first_value,
        |  nth_value(value, 3) OVER w_run AS third_value
        |FROM events
        |WINDOW
        |  w_run AS (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_mov AS (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q25_asof_join" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS event_id
        |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id AS p_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  c.event_id AS click_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_id""".stripMargin,
    "q61_asof_native" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS event_id
        |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id AS p_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  c.event_id AS click_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_id""".stripMargin,
    "q26_distinct_count" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q27_typed_agg" ->
      s"""SELECT event_type,
         |  floor((coalesce(sum(value * $kExpr) / sum($kExpr), 0.0)) * 10000.0 + 0.5) / 10000.0 AS wavg
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q28_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q29_percentiles" ->
      """SELECT event_type,
        |  floor((quantile_cont(CAST(floor("value" * 100.0 + 0.5) AS BIGINT), 0.5) / 100.0) * 10000.0 + 0.5) / 10000.0 AS p50,
        |  floor((quantile_cont(CAST(floor("value" * 100.0 + 0.5) AS BIGINT), 0.9) / 100.0) * 10000.0 + 0.5) / 10000.0 AS p90,
        |  floor((quantile_cont(CAST(floor("value" * 100.0 + 0.5) AS BIGINT), 0.99) / 100.0) * 10000.0 + 0.5) / 10000.0 AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q34_stats_agg" ->
      s"""SELECT event_type,
         |  floor((corr(value, $kExpr)) * 10000.0 + 0.5) / 10000.0 AS corr_vk,
         |  floor((covar_samp(value, $kExpr)) * 10000.0 + 0.5) / 10000.0 AS covar_vk,
         |  floor((stddev_samp(value)) * 10000.0 + 0.5) / 10000.0 AS sd_value,
         |  floor((var_samp(value)) * 10000.0 + 0.5) / 10000.0 AS var_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q35_date_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  quarter(o_orderdate) AS qtr,
        |  month(o_orderdate) AS mon,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |  datediff('day', DATE '1995-01-01', o_orderdate) AS days_since_epoch95
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q52_vector_stats" ->
      """WITH v AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |         x -> x * x))) AS norm,
        |    list_sum(CAST(embedding AS DOUBLE[])) / 64 AS mean_comp
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  floor((avg(norm)) * 10000.0 + 0.5) / 10000.0 AS avg_norm,
        |  floor((avg(mean_comp)) * 1000000.0 + 0.5) / 1000000.0 AS avg_mean_comp,
        |  floor((min(mean_comp)) * 1000000.0 + 0.5) / 1000000.0 AS min_mean_comp,
        |  floor((max(mean_comp)) * 1000000.0 + 0.5) / 1000000.0 AS max_mean_comp
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    "q102_rank_breadth" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH o AS (
         |  SELECT o_orderkey, o_orderpriority AS prio, o_orderstatus AS st,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pc
         |  FROM orders),
         |r AS (
         |  SELECT o_orderkey, prio,
         |    row_number() OVER wu AS rn,
         |    CAST(ntile(4) OVER wu AS BIGINT) AS quartile,
         |    rank() OVER wt AS rnk,
         |    dense_rank() OVER wt AS drnk,
         |    count(*) OVER wp AS n_part
         |  FROM o
         |  WINDOW
         |    wu AS (PARTITION BY prio ORDER BY pc, o_orderkey),
         |    wt AS (PARTITION BY prio ORDER BY st),
         |    wp AS (PARTITION BY prio))
         |SELECT o_orderkey, prio, rn, quartile, rnk, drnk,
         |  ${intDivSql("1000000 * (rn - 1)", "n_part - 1")} AS pr_e6
         |FROM r ORDER BY prio, rn""".stripMargin
    },
    "q103_moments" ->
      // HUGEINT keeps x^4 (~10^20) exact where BIGINT would overflow;
      // the final DOUBLE casts round the same exact integers both sides
      s"""WITH ev AS (
         |  SELECT event_type,
         |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
         |  FROM events WHERE value IS NOT NULL),
         |s AS (
         |  SELECT event_type,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2,
         |    CAST(sum(CAST(x AS HUGEINT) * x * x) AS DOUBLE) AS s3,
         |    CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS DOUBLE) AS s4
         |  FROM ev GROUP BY event_type)
         |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
         |  $momentExprSql AS skew_e6,
         |  $kurtExprSql AS kurt_e6
         |FROM s ORDER BY event_type""".stripMargin,
    "q104_cond_agg" -> q104Sql)
}
