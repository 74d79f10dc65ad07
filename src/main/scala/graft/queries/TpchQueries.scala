package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.Rounding.{cents, roundf, sumCents, sumExact}
import graft.operators.SessionDirMemo.pin
import graft.operators.CheckpointBlocks.checkpoint

/** Classic multi-join analytical shapes (TPC-H Q7/Q8/Q2 style) over the
  * testdata star schema — the join-heavy breadth the reference itself never
  * exercises (SURVEY.md §2.3: the reference has no joins at all).
  *
  * 100 TB posture: `lineitem`/`orders` are the fact tables and every
  * dimension (nation, region, supplier, customer at TPC-H proportions) is
  * broadcast-joined, so each query is one or two fact-fact shuffles on the
  * join keys plus a small aggregate; AQE handles the rest.
  */
object TpchQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Volume in exact 10⁻⁴ fixed-point (int64): order-independent sums —
    * see Rounding.cents. */
  private def vol4 = cents(col("l_extendedprice")) *
    cents(lit(1) - col("l_discount"))

  /** Q7-style volume shipping: revenue between every ordered pair of
    * distinct (supplier nation → customer nation), per ship year. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), vol4.as("vol"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(roundf(sumExact(col("vol")) / 10000.0, 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Canonical TPC-H Q7 (volume shipping between TWO nations), the
    * symmetric-disjunction twin q57 generalizes away: revenue shipped
    * between NATION_15 and NATION_19 in either direction, split by ship
    * year over 1995–1996. Q7's selling point is the filter shape — the
    * spec's `(n1=A AND n2=B) OR (n1=B AND n2=A)` disjunction straddles
    * two join inputs, so stated literally it blocks all pushdown. Here it
    * is decomposed the way a cluster plan must: each side prunes
    * independently with `n_name IN (A, B)` (pushed into the dimension
    * scans, shrinking supplier AND customer ~2/25 BEFORE the fact joins),
    * and the cross-side constraint collapses to `supp_nation <>
    * cust_nation` — exactly the residual the disjunction implies once
    * both sides are restricted to {A, B}. The only non-broadcast shuffle
    * is the lineitem×orders fact-fact join, with both fact sides
    * pre-reduced (lineitem by the pushed shipdate range + broadcast
    * supplier semi-filter, orders by the broadcast two-nation customer
    * filter). */
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val two = Seq("NATION_15", "NATION_19")
    val nat = t(s, dir, "nation").filter(col("n_name").isin(two: _*))
    val sup = t(s, dir, "supplier")
      .join(broadcast(nat.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val cust = t(s, dir, "customer")
      .join(broadcast(nat.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    val ord = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), vol4.as("vol"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(roundf(sumExact(col("vol")) / 10000.0, 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8-style market share: among orders from customers in region ASIA,
    * the share of line-item volume supplied by NATION_2, per order year. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")
        .filter(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val asiaCust = t(s, dir, "customer")
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"))
      .select("c_custkey")
    val suppNation = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name"))),
        col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = t(s, dir, "orders")
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), vol4.as("vol"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(roundf(
        sumExact(when(col("supp_nation") === "NATION_2", col("vol"))
          .otherwise(lit(0L))) /
          sumExact(col("vol")), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q2-style min-per-group + join-back: for every part, the supplier(s)
    * with the minimum total sale revenue for that part (ties kept, like
    * Q2's multi-row answer per part).
    *
    * ONE lineitem pass, ONE hash exchange (was: three lineitem scans +
    * four exchanges through a min-per-group join-back). The explicit
    * `repartition(l_partkey)` is the load-bearing move: HashPartitioning
    * on a PREFIX of the grouping keys satisfies the aggregate's
    * ClusteredDistribution(l_partkey, l_suppkey) AND the min window's
    * ClusteredDistribution(l_partkey), so the per-(part, supplier)
    * rollup, the per-part minimum, and the tie filter all ride that one
    * exchange with no join-back. The trade is forgoing map-side combine
    * on the first shuffle — a good trade here because lineitem carries
    * only ~1–4 rows per (partkey, suppkey), so partial aggregation
    * barely shrinks the exchange while the join-back costs two more
    * full exchanges and two re-scans. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), vol4.as("vol"))
      .repartition(col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(roundf(sumExact(col("vol")) / 10000.0, 2).as("rev"))
      .withColumn("min_rev",
        min("rev").over(Window.partitionBy("l_partkey")))
      .filter(col("rev") === col("min_rev"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_key"), col("l_suppkey").as("s_key"),
        col("s_name"), col("rev"))
      .orderBy("p_key", "s_key")
  }

  /** Pure range join — NO equi key: line items counted into calendar-month
    * windows derived from order dates. Runs through RangeJoin.binned
    * (32-day bins over epoch-micros), which turns what Spark would plan as
    * a nested-loop theta join into an equi-join on bin ids — the shape
    * that survives 100 TB. The DuckDB oracle states the same join as a
    * plain range predicate. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val months = t(s, dir, "orders")
      .select(date_trunc("month", col("o_orderdate")).as("month_start"))
      .distinct()
      .select(col("month_start"),
        // .cast("timestamp") first: parquet may surface these as
        // TIMESTAMP_NTZ (session-dependent inference), which unix_micros
        // rejects; under the engine's pinned UTC session the cast is a
        // same-instant no-op
        unix_micros(col("month_start").cast("timestamp")).as("lo"),
        unix_micros((col("month_start") + expr("INTERVAL 1 MONTH"))
          .cast("timestamp")).as("hi"))
    val li = t(s, dir, "lineitem")
      .select(unix_micros(col("l_shipdate").cast("timestamp")).as("p"),
        vol4.as("vol"))
    graft.operators.RangeJoin
      .binned(li, months, "p", "lo", "hi", 32L * 24 * 3600 * 1000000)
      .groupBy("month_start")
      .agg(count(lit(1)).as("n_items"),
        roundf(sumExact(col("vol")) / 10000.0, 2).as("revenue"))
      .select(date_format(col("month_start"), "yyyy-MM-dd").as("month_start"),
        col("n_items"), col("revenue"))
      .orderBy("month_start")
  }

  /** Q3-style shipping priority: top-10 orders by open revenue — BUILDING
    * segment, ordered before / shipped after the cutoff. Two broadcast
    * dims + one fact-fact shuffle, top-k via TakeOrderedAndProject;
    * revenue stays exact 10⁻⁴ fixed-point all the way out (BIGINT, no
    * doubles in the compare), and the (revenue DESC, orderkey) sort is
    * fully deterministic. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-06-01"
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < to_timestamp(lit(cutoff)))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") > to_timestamp(lit(cutoff)))
      .select(col("l_orderkey"), vol4.as("vol"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("vol").cast("decimal(38,0)")).cast("long")
        .as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Market-basket pair mining: parts co-purchased in the same order at
    * least twice across the corpus (the candidate-generation step of
    * frequent-itemset mining, and the co-occurrence statistic behind
    * item-item recommenders). ONE scan: each basket's distinct items
    * collect to a sorted array (buffer O(basket), not O(basket²)), a
    * basket-size cap (≤ 8 distinct parts) bounds pair fan-out at
    * C(8,2)=28 — the same df-cap discipline as q41's shingle join, so a
    * pathological mega-basket cannot quadratically explode a reducer —
    * and ordered pairs expand via codegen'd array lambdas (p1 < p2 by
    * construction from the sorted array). No self-join: the keyed
    * self-join formulation scans the fact twice and pays two window
    * passes; this shape is groupBy → explode → groupBy, two exchanges
    * total before the presentation sort. The support threshold (≥ 2)
    * prunes the output before that sort. */
  private def q128(s: SparkSession, dir: String): DataFrame =
    basketPairs(s, dir)
      .select(col("item_a").as("p1"), col("item_b").as("p2"),
        col("n_baskets").as("n_orders"))
      .orderBy("p1", "p2")

  /** The capped basket-pair table (orders × parts, C(8,2) fan-out
    * bound, support ≥ 2) — q128's mining output IS q267's recommender
    * input, so the r13 memo builds it once per (session, dir); the raw
    * CoOccur chain stays gated in PlanGateSpec via `rawChain`. */
  private val basketPairsMemo = new graft.operators.SessionDirMemo[DataFrame]
  private[graft] def basketPairs(s: SparkSession, dir: String): DataFrame =
    basketPairsMemo.get(s, dir)(pin(graft.operators.CoOccur.pairs(
      Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      maxBasket = 8, minSupport = 2)))

  /** Order-to-ship latency census per ship month — the fulfillment-SLA
    * dashboard (TPC-H Q12's domain, adapted to the synthetic schema's
    * one date pair): transit time o_orderdate→l_shipdate per item, with
    * the slow-fulfillment flag at > 90 days. One fact-fact equi-join on
    * the order key (both sides shuffle — correct at 100 TB; nothing
    * here is broadcastable) and one aggregation; the mean is left to
    * the consumer as the exact integer pair (sum_latency_days,
    * n_items) — the q112 discipline — and the sum accumulates through
    * decimal(38,0) so a 100 TB month cannot wrap int64. */
  private def q143(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM-dd")
          .as("ship_month"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("latency_days"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_items"),
        sum((col("latency_days") > 90).cast("long")).cast("long")
          .as("n_slow"),
        sum(col("latency_days").cast("decimal(38,0)")).cast("long")
          .as("sum_latency_days"),
        max("latency_days").as("max_latency_days"))
      .orderBy("ship_month")

  /** TPC-H Q5 (local supplier volume): revenue from orders where the
    * customer and the line's supplier sit in the SAME nation of one
    * region, per nation, one order-date year. The canonical 6-table
    * join-planning benchmark: lineitem⋈orders is the one fact-fact
    * shuffle; supplier/customer key-columns and nation/region broadcast
    * (at TPC-H proportions — see the pack scaladoc); the same-nation
    * predicate is applied as soon as both nation keys exist so mismatched
    * rows never reach the aggregate. Revenue is the exact e4 fixed-point
    * BIGINT (q93 discipline — integer outputs cannot ulp-diverge). */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val asiaNationKeys = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")
        .filter(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      .select("o_orderkey", "o_custkey")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), vol4.as("vol"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNationKeys),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum(col("vol").cast("decimal(38,0)")).cast("long")
        .as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("nation"))
  }

  /** TPC-H Q10 (returned-item reporting): the top-20 customers by revenue
    * lost to returns in one quarter. One fact-fact shuffle
    * (lineitem⋈orders, both pre-filtered so the exchange carries only the
    * quarter's returned rows), customer/nation broadcast, then a top-k —
    * at 100 TB the ORDER BY+LIMIT is a TakeOrderedAndProject: each task
    * keeps 20 rows, no global sort. Ties broken by c_custkey so the row
    * set is deterministic; acctbal emitted as exact cents. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-04-01")))
      .select("o_orderkey", "o_custkey")
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        cents(col("c_acctbal")).as("acctbal_cents"), col("c_nationkey"))
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("nation"))
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), vol4.as("vol"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "acctbal_cents", "nation")
      .agg(sum(col("vol").cast("decimal(38,0)")).cast("long")
        .as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q4 (order-priority checking): orders placed in one quarter with
    * at least one line shipped more than 30 days after ordering, counted
    * per priority (the schema has no commitdate/receiptdate pair, so "late"
    * is ship-lag > 30d — same EXISTS shape, same join planning problem).
    * The EXISTS is a LEFT SEMI join keyed on the order key with the lag
    * predicate as a join-side condition: the fact side is never widened,
    * each order is emitted at most once regardless of how many lines are
    * late, and both sides shuffle once on the key (no correlated per-row
    * subquery execution survives into the physical plan). Counts are
    * BIGINT — nothing can ulp-diverge. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-04-01")))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q12 (shipping modes / critical priority): per line class
    * (l_returnflag stands in for the schema's missing l_shipmode), how
    * many 1997-shipped lines belong to critical-priority orders vs not.
    * One fact-fact equi-join — the ship-year filter prunes the lineitem
    * side before the exchange — then a single conditional aggregation
    * (the FILTER/CASE shape) with pure integer outputs. */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select("l_orderkey", "l_returnflag")
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(hi.cast("long")).cast("long").as("n_high"),
        sum((!hi).cast("long")).cast("long").as("n_low"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q14 (promotion effect): per 1997 ship-month, revenue from
    * PROMO-type parts vs all revenue, and the promo share in exact ppm.
    * part is broadcast (2k rows; at TPC-H proportions parts : lineitems
    * stays 1:30, and a 100 TB run flips this join to shuffle only if the
    * planner's stats say so). The share is exact integer arithmetic end
    * to end: both revenues are e4 fixed-point BIGINTs and the ppm ratio
    * goes through [[graft.functions.Rounding.intDivExact]] with the
    * product widened to decimal — no double division on either engine. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val promo = (col("p_type") === "PROMO").cast("long")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select(col("l_partkey"),
        date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM-dd")
          .as("ship_month"),
        vol4.as("vol"))
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("ship_month")
      .agg(sum((col("vol") * promo).cast("decimal(38,0)")).cast("long")
          .as("promo_rev_e4"),
        sum(col("vol").cast("decimal(38,0)")).cast("long")
          .as("total_rev_e4"))
      .withColumn("promo_share_e6",
        intDivExact(
          col("promo_rev_e4").cast("decimal(38,0)") * lit(1000000L),
          col("total_rev_e4")))
      .orderBy("ship_month")
  }

  /** TPC-H Q16 (parts/supplier relationship): how many distinct suppliers
    * ship each (brand, size) slice of the non-PROMO catalog, excluding
    * suppliers with negative account balance (the "customer complaints"
    * stand-in — the schema has no s_comment). The part-supplier relation
    * is recovered from lineitem (no partsupp table): DISTINCT first, so
    * the count-distinct aggregates a pre-deduplicated key set; the
    * excluded-supplier set arrives as a broadcast LEFT ANTI join (the
    * NOT IN subquery shape, null-safe by construction since keys are
    * non-null). */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val rel = t(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    val badSupp = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    rel.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(t(s, dir, "part")
          .filter(col("p_type") =!= "PROMO")
          .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H Q18 (large-volume customers): orders whose total quantity
    * exceeds 150, with their customer. The HAVING-subquery shape planned
    * the scalable way: aggregate lineitem by order key FIRST (the filter
    * kills ~99% of orders before any join), then join the surviving keys
    * to orders and broadcast customer. Quantities are whole numbers
    * stored as double — cast to long BEFORE summing so the aggregate is
    * pure int64 (decimal-accumulated against 100 TB wrap). */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long").cast("decimal(38,0)"))
        .cast("long").as("total_qty"))
      .filter(col("total_qty") > 150L)
    big.join(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer").select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(50)
  }

  /** TPC-H Q19 (discounted revenue, disjunctive predicates): revenue from
    * three OR-ed (brand × size-range × quantity-range) branches — the
    * classic test that a disjunction straddling both join sides still
    * plans as ONE equi-join on the part key with the OR evaluated as a
    * post-join filter (not a nested-loop). part broadcasts; the filter
    * never reaches the driver. Single-row exact-integer output. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity").cast("long")
    val branch =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        qty.between(1L, 11L)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        qty.between(10L, 20L)) ||
      (col("p_brand") === "Brand#5" && col("p_size").between(1, 35) &&
        qty.between(20L, 30L))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), vol4.as("vol"))
      .join(broadcast(t(s, dir, "part")
          .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(count(lit(1)).as("n_items"),
        sum(col("vol").cast("decimal(38,0)")).cast("long")
          .as("revenue_e4"))
  }

  /** TPC-H Q21 (suppliers who kept orders waiting): in multi-supplier
    * orders, the supplier who was the SOLE last to ship, counted per
    * supplier (top 20). Q21's EXISTS/NOT-EXISTS pair over other lines of
    * the same order is re-expressed as one window pass over the
    * per-(order, supplier) ship maxima — order max, supplier count, and
    * how many suppliers share the max — so the whole query is one
    * aggregation plus one window on the SAME order-key partitioning
    * (a single exchange, reused by Catalyst) instead of two correlated
    * fact self-joins. The explicit repartition on the order key alone
    * makes the sharing real: HashPartitioning(l_orderkey) satisfies the
    * groupBy's (l_orderkey, l_suppkey) clustering (subset rule) AND the
    * window's l_orderkey partitioning, where the groupBy's own exchange
    * would hash on both keys and force a second shuffle for the window
    * (PlanSpec pins the single-exchange shape). */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ls = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("sup_last"))
    val w = Window.partitionBy("l_orderkey")
    val flagged = ls
      .withColumn("ord_last", max("sup_last").over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_at_max",
        sum((col("sup_last") === col("ord_last")).cast("long")).over(w))
      .filter(col("n_supp") > 1L && col("n_at_max") === 1L &&
        col("sup_last") === col("ord_last"))
    flagged.groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_name", "numwait")
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q22 (global sales opportunity): DORMANT customers — no order
    * since 2000-01-01 (the synthetic order stream touches nearly every
    * customer at least once over six years, so Q22's literal "never
    * ordered" is empty; the dormancy-window variant preserves the shape
    * with a non-trivial answer) — holding an above-average positive
    * balance, per nation. The scalar AVG subquery is a 1-row aggregate
    * broadcast into a cross join; the NOT EXISTS is a LEFT ANTI join on
    * the customer key with the date filter pushed below the exchange.
    * The above-average comparison is exact cross-multiplication —
    * cents·n > sum_cents in decimal — so no average is ever materialized
    * as a double on either engine. */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val custC = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_cents"))
    val stats = custC.filter(col("bal_cents") > 0L)
      .agg(sum(col("bal_cents").cast("decimal(38,0)")).cast("long")
          .as("sum_cents"),
        count(lit(1)).as("n_pos"))
    custC
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(stats))
      .filter(col("bal_cents").cast("decimal(38,0)") * col("n_pos") >
        col("sum_cents").cast("decimal(38,0)"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_custs"),
        sum(col("bal_cents").cast("decimal(38,0)")).cast("long")
          .as("total_cents"))
      .orderBy("nation")
  }

  /** Nation revenue share within its region (the ratio-to-report window
    * shape): per nation, total line-item revenue, its exact-ppm share of
    * the region total, and its revenue rank in the region. The fact scan
    * aggregates FIRST (one shuffle on the nation key — 25 groups); the
    * region-partitioned window then runs over a dimension-sized table,
    * so unlike a partition-less ntile this window is bounded by the
    * nation count at any data scale. Shares are exact integer ppm via
    * [[graft.functions.Rounding.intDivExact]] — region totals of e4
    * fixed-point can exceed 2^53 at 100 TB, hence the decimal/HUGEINT
    * division chain rather than the three-double-op form. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.intDivExact
    val supGeo = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"),
        col("r_name").as("region"))
    val natRev = t(s, dir, "lineitem")
      .select(col("l_suppkey"), vol4.as("vol"))
      .join(broadcast(supGeo), col("l_suppkey") === col("s_suppkey"))
      .groupBy("region", "nation")
      .agg(sum(col("vol").cast("decimal(38,0)")).cast("long")
        .as("revenue_e4"))
    val w = Window.partitionBy("region")
    natRev
      .withColumn("region_total_e4",
        sum(col("revenue_e4").cast("decimal(38,0)")).over(w).cast("long"))
      .withColumn("share_ppm",
        intDivExact(
          col("revenue_e4").cast("decimal(38,0)") * lit(1000000L),
          col("region_total_e4")))
      .withColumn("rank_in_region",
        rank().over(Window.partitionBy("region")
          .orderBy(col("revenue_e4").desc, col("nation"))).cast("long"))
      .select("region", "nation", "revenue_e4", "region_total_e4",
        "share_ppm", "rank_in_region")
      .orderBy("region", "rank_in_region")
  }

  /** Pareto frontier (skyline) of the part catalog minimizing
    * (retail price, size): parts no other part beats on both axes. The
    * textbook NOT-EXISTS dominance test is O(n²); the engine's
    * formulation is the sort-scan identity — a part is dominated iff the
    * MIN size among strictly-cheaper parts is ≤ its size, or a same-price
    * part is strictly smaller — so one per-price aggregate, one
    * [[graft.operators.PrefixScan]] running-min over price order (no
    * single-task window), one rank-shift join to make the inclusive scan
    * exclusive, and one broadcast join back decide every part. Price is
    * exact integer cents; the oracle runs the quadratic NOT EXISTS the
    * scan provably equals. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val pts = t(s, dir, "part")
      .select(col("p_partkey"), cents(col("p_retailprice")).as("price_c"),
        col("p_size").cast("long").as("size"))
    val perPrice = pts.groupBy("price_c").agg(min("size").as("min_at_price"))
    // ONE scan pass (r21, guide §1.2): rank and running min ride the
    // same (price_c) total order, so fusing them drops a second range
    // shuffle + checkpoint + collect over the per-price table.
    val scanned = PrefixScan.runningMinWithRank(perPrice,
      "min_at_price", "min_upto", "rnk", col("price_c"))
    // the scan is inclusive; "strictly cheaper" = previous rank's value
    val prev = scanned.select((col("rnk") + 1L).as("rnk"),
      col("min_upto").as("prev_min"))
    val excl = scanned.select(col("rnk"), col("price_c"), col("min_at_price"))
      .join(prev, Seq("rnk"), "left")
      .select(col("price_c"), col("min_at_price"),
        coalesce(col("prev_min"), lit(Long.MaxValue)).as("min_cheaper"))
    pts.join(broadcast(excl), "price_c")
      .filter(col("min_cheaper") > col("size") &&
        col("min_at_price") >= col("size"))
      .select("p_partkey", "price_c", "size")
      .orderBy("price_c", "p_partkey")
  }

  /** Global running revenue over the full order history in
    * (o_orderdate, o_orderkey) order — cumulative cents and the exact-ppm
    * share-to-date of all-time revenue, per order. The row-level
    * cumulative is [[graft.operators.PrefixScan.runningSum]] (two-pass
    * distributed fold) where `sum() OVER (ORDER BY …)` with no PARTITION
    * BY would drag the entire fact through one task; the all-time total
    * is a 1-row broadcast. Pure integer arithmetic end to end (int64
    * holds cumulative cents to ~10^17 orders' worth; the ppm product is
    * widened through decimal/HUGEINT). */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    import graft.functions.Rounding.intDivExact
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_cents"))
    val cum = PrefixScan.runningSum(ord, "price_cents", "cum_cents",
      col("o_orderdate"), col("o_orderkey"))
    val total = cum.agg(
      sum(col("price_cents").cast("decimal(38,0)")).cast("long")
        .as("total_cents"))
    cum.crossJoin(broadcast(total))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("price_cents"), col("cum_cents"),
        intDivExact(col("cum_cents").cast("decimal(38,0)") * lit(1000000L),
          col("total_cents")).as("cum_ppm"))
      .orderBy("o_orderdate", "o_orderkey")
  }

  /** TPC-H Q6 (forecasting revenue change): one filtered scan, one global
    * aggregate — the benchmark's pushdown probe. The date and quantity
    * predicates reach the parquet scan as PushedFilters (PlanSpec pins
    * it); the discount band compares EXACT integer cents on both engines
    * (a raw double BETWEEN on 0.05/0.07 would hinge on each engine's
    * literal-to-double parse at the boundary). Revenue is
    * Σ price·discount in e4 fixed-point BIGINT. */
  private def q180(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
        col("l_quantity") < 24)
      .filter(cents(col("l_discount")).between(5L, 7L))
      .agg(count(lit(1)).as("n_items"),
        sum((cents(col("l_extendedprice")) * cents(col("l_discount")))
          .cast("decimal(38,0)")).cast("long").as("revenue_e4"))

  /** TPC-H Q11 (important stock identification): parts whose revenue from
    * NATION_3's suppliers exceeds 0.1% of that nation's total — the
    * scalar-subquery-threshold shape. The per-part aggregate runs first
    * (one shuffle on the part key); the nation total is a 1-row broadcast
    * and the threshold compare is exact cross-multiplication
    * (value·1000 > total in decimal/HUGEINT), so no fraction is ever a
    * float. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val natSupp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_3").select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val pv = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), vol4.as("vol"))
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(col("vol").cast("decimal(38,0)")).cast("long")
        .as("value_e4"))
    val tot = pv.agg(sum(col("value_e4").cast("decimal(38,0)")).cast("long")
      .as("total_e4"))
    pv.crossJoin(broadcast(tot))
      .filter(col("value_e4").cast("decimal(38,0)") * lit(1000L) >
        col("total_e4").cast("decimal(38,0)"))
      .select("l_partkey", "value_e4")
      .orderBy(col("value_e4").desc, col("l_partkey"))
  }

  /** Q9-style product-type profit: for 'red' parts, per supplier nation
    * and order year, profit = line revenue − (unit retail cost × qty) —
    * the schema has no partsupp, so p_retailprice stands in for
    * ps_supplycost (same join/agg shape, different cost column). Both
    * profit terms live on the SAME 10⁻⁴ fixed-point grid (cents × cents),
    * so the subtraction and the exact decimal sum never touch a float
    * until the final display division. Shape: lineitem⋈orders is the one
    * fact-fact shuffle (order key); part/supplier/nation broadcast. */
  private def q203(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("cost_c"))
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        vol4.as("vol"), cents(col("l_quantity")).as("qty_c"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("nation"), col("o_year"),
        (col("vol") - col("cost_c") * col("qty_c")).as("profit4"))
      .groupBy("nation", "o_year")
      .agg(roundf(sumExact(col("profit4")) / 10000.0, 2).as("profit"))
      .orderBy("nation", "o_year")
  }

  /** Q13-style customer order-count distribution: orders per customer
    * (non-urgent only, standing in for Q13's comment exclusion), ZEROS
    * INCLUDED via the left join from customer — the distribution's most
    * telling bucket is the customers with no orders at all — then the
    * histogram of those counts. Two aggregations, one fact shuffle on
    * the customer key. */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey")
    t(s, dir, "customer").select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q15-style top supplier: max total revenue over 1995-Q1 shipments,
    * ties kept (Q15's VIEW + max subquery, as a self-agg + broadcast
    * scalar compare). Revenue stays an exact 10⁻⁴ int64 through the max
    * and the equality — the float appears only in the display column, so
    * the winner set cannot ulp-flip. */
  private def q205(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1995-01-01" &&
        col("l_shipdate") < "1995-04-01")
      .groupBy(col("l_suppkey"))
      .agg(sumCents(vol4).as("rev4"))
    val mx = rev.agg(max("rev4").as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev4") === col("mx"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        roundf(col("rev4").cast("double") / 10000.0, 2)
          .as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q17-style small-quantity-order revenue: among Brand#17 parts, the
    * yearly revenue locked in orders below 20% of the part's average
    * quantity. The 0.2·avg comparison is DE-FLOATED by cross-multiplying
    * to integers — qty·n·10 < 2·Σqty (all exact cents/counts) — because
    * the float form puts rows exactly ON the threshold at the mercy of
    * each engine's division rounding. One extra keyed join against the
    * per-part stats; the part filter broadcasts. */
  private def q206(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"))
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#17").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy(col("l_partkey").as("pk"))
      .agg(sumCents(col("qc")).as("sq"), count(lit(1)).as("n"))
    li.join(stats, col("l_partkey") === col("pk"))
      .filter(col("qc") * col("n") * lit(10L) < col("sq") * lit(2L))
      .agg(roundf(sumExact(col("pc")) / 100.0 / 7.0, 2).as("avg_yearly"))
  }

  /** Q20-style dominant suppliers (the schema has no partsupp, so
    * "excess stock" becomes its observable twin): suppliers who shipped
    * MORE THAN HALF of a part's total 1995 volume, with the count of
    * parts they dominate. The majority test is the exact integer
    * 2·Σqty(part,supp) > Σqty(part); both aggregates shuffle on the part
    * key and join back on it — co-partitioned, one exchange each. */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val li95 = t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1995)
      .select(col("l_partkey"), col("l_suppkey"),
        cents(col("l_quantity")).as("qc"))
    val ps = li95.groupBy("l_partkey", "l_suppkey")
      .agg(sumCents(col("qc")).as("sq_ps"))
    val p = li95.groupBy("l_partkey").agg(sumCents(col("qc")).as("sq_p"))
    ps.join(p, "l_partkey")
      .filter(col("sq_ps") * lit(2L) > col("sq_p"))
      .groupBy("l_suppkey").agg(count(lit(1)).as("n_dominated_parts"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_dominated_parts"))
      .orderBy("s_suppkey")
  }

  /** TPC-H refresh-function round-trip (RF1 insert + RF2 delete) — the
    * one piece of the benchmark the 22 read queries never exercise: the
    * warehouse must absorb an insert batch and a matching delete and
    * land EXACTLY back on its baseline. The refresh set is synthesized
    * deterministically from the data itself (every 97th orderkey,
    * cloned above a 2·10⁹ key offset — disjoint from any real key at
    * any SF), RF1 is a UNION ALL, RF2 is the anti-join on the offset
    * range, and the audit compares the per-returnflag revenue under
    * base / after-insert / after-delete side by side. after_delete ≡
    * base is the invariant the hash pins — a sink that loses or
    * duplicates rows under refresh fails this query, which is the
    * point. All sums are exact integer cents (sumCents). One scan
    * feeds all three arms; the only exchange is the 3-group rollup. */
  private def q241(s: SparkSession, dir: String): DataFrame = {
    val keyOffset = 2000000000L
    val base = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_cents"))
    val inserts = base.filter(col("l_orderkey") % 97 === 0)
      .select((col("l_orderkey") + keyOffset).as("l_orderkey"),
        col("l_returnflag"), col("price_cents"))
    val afterInsert = base.unionByName(inserts)
    val afterDelete = afterInsert.filter(col("l_orderkey") < keyOffset)
    def arm(df: DataFrame, n: String, c: String) =
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as(n), sumCents(col("price_cents")).as(c))
    arm(base, "n_base", "base_cents")
      .join(arm(afterInsert, "n_ins", "after_insert_cents"),
        "l_returnflag")
      .join(arm(afterDelete, "n_del", "after_delete_cents"),
        "l_returnflag")
      .withColumn("roundtrip_ok",
        (col("n_del") === col("n_base") &&
          col("after_delete_cents") === col("base_cents")).cast("long"))
      .orderBy("l_returnflag")
  }

  /** Bounded-depth hierarchy (BOM-style) rollup WITHOUT recursion — the
    * parts-explosion shape TPC-H itself never exercises, solved the way
    * a 100 TB job must: each node EMITS its ⌈3⌉ ancestor keys (parent
    * p div 2, grandparent p div 4, great-grandparent p div 8 over the
    * synthesized binary-heap tree) as an explode, and ONE groupBy rolls
    * up every subtree-within-3-levels — no iterative join, no recursive
    * CTE, no driver loop, because bounded depth turns recursion into a
    * constant-width key explosion (the ancestor-path trick hierarchical
    * aggregation uses at scale). The oracle states the same rollup as
    * three UNION ALL projections. All money exact integer cents. */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey").cast("long").as("pk"),
        cents(col("p_retailprice")).as("price_cents"))
    val rollup = p
      .select(col("price_cents"), explode(array(
        intDiv(col("pk"), lit(2L)), intDiv(col("pk"), lit(4L)),
        intDiv(col("pk"), lit(8L)))).as("anc"))
      .filter(col("anc") >= 1L)
      .groupBy("anc")
      .agg(count(lit(1)).as("n_desc"),
        sumCents(col("price_cents")).as("desc_cents"))
    p.join(rollup, col("pk") === col("anc"), "left")
      .select(col("pk").as("p_partkey"),
        col("price_cents").as("own_cents"),
        coalesce(col("n_desc"), lit(0L)).as("n_desc"),
        coalesce(col("desc_cents"), lit(0L)).as("desc_cents"))
      .orderBy("p_partkey")
  }

  /** Surrogate-key gap audit — the warehouse key-space health check
    * (sequence exhaustion, failed-batch holes, CDC drops), solved
    * WITHOUT the global `lag(k) OVER (ORDER BY k)` window every SQL
    * formulation reaches for (one task holding every key): a gap START
    * is k+1 where k exists and k+1 doesn't (one anti-join), a gap END
    * is k−1 where k exists and k−1 doesn't (another), and the i-th
    * start pairs with the i-th end under two [[graft.operators
    * .GlobalRank]] passes over the BOUNDARY sets — which are #gaps
    * rows, not #keys rows. The output histogram (gap length → count)
    * equals the window formulation's exactly; TPC-H's deliberately
    * sparse orderkey space (8 of every 32) makes the expected shape
    * obvious: gaps of 23-ish dominate. */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    // this generator's orderkeys are contiguous, so the audited space is
    // the FINALIZED-order slice (status 'F', ~1/3 of keys): its holes are
    // the open/pending orders — the real "why is this key missing" shape
    // localCheckpoint (r20, guide §1.2): the key set feeds FIVE readers
    // (both sides of each anti-join plus the bounds aggregate), each of
    // which re-ran the orders scan + distinct. O(orders) rows of one
    // long — checkpoint-safe at any scale the audit itself is.
    val keys = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").cast("long").as("k")).distinct()
      .transform(checkpoint)
    val bounds = keys.groupBy()
      .agg(min("k").as("lo"), max("k").as("hi"))
    val starts = keys.select((col("k") + 1L).as("k"))
      .join(keys, Seq("k"), "left_anti")
      .crossJoin(broadcast(bounds)).filter(col("k") < col("hi"))
      .select(col("k").as("gap_start"))
    val ends = keys.select((col("k") - 1L).as("k"))
      .join(keys, Seq("k"), "left_anti")
      .crossJoin(broadcast(bounds)).filter(col("k") > col("lo"))
      .select(col("k").as("gap_end"))
    val rs = GlobalRank.withRank(starts, "i", col("gap_start").asc)
    val re = GlobalRank.withRank(ends, "i", col("gap_end").asc)
    rs.join(re, "i")
      .select((col("gap_end") - col("gap_start") + 1L).as("gap_len"))
      .groupBy("gap_len")
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy("gap_len")
  }

  /** Item-item recommendations by co-occurrence lift — the classical
    * collaborative-filtering table built on q128's basket pairs: lift =
    * P(i,j)/(P(i)·P(j)) = co·N/(n_i·n_j), kept exact as the e6
    * rational ((2·10⁶·co·N + n_i·n_j) div 2·n_i·n_j through
    * decimal/HUGEINT — co·N products pass int64 at warehouse scale),
    * symmetrized so every item recommends, top-3 per item under the
    * deterministic (lift DESC, rec) order. Lift > 1e6 means genuinely
    * associated, not just popular — the reason rec systems rank by lift
    * and not raw co-counts. Denominators use UNCAPPED per-item order
    * counts; the pair counts inherit q128's mega-basket cap (the
    * CoOccur contract). The rank window partitions per item over ≤ its
    * co-item count — basket-bounded. */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.intDivExact
    val li = Tables.load(s, dir, "lineitem")
    val pairs = basketPairs(s, dir)
    val itemN = li.select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey").as("item"))
      .agg(count(lit(1)).as("n_ord"))
    val tot = li.select("l_orderkey").distinct()
      .groupBy().agg(count(lit(1)).as("n_total"))
    val sym = pairs.select(col("item_a").as("i"), col("item_b").as("j"),
        col("n_baskets").as("co"))
      .unionAll(pairs.select(col("item_b").as("i"),
        col("item_a").as("j"), col("n_baskets").as("co")))
    val scored = sym
      .join(itemN.select(col("item").as("i"), col("n_ord").as("ni")), "i")
      .join(itemN.select(col("item").as("j"), col("n_ord").as("nj")), "j")
      .crossJoin(broadcast(tot))
      .withColumn("lift_e6", intDivExact(
        col("co").cast("decimal(38,0)") * col("n_total") * lit(2000000L) +
          col("ni") * col("nj"),
        lit(2L) * col("ni") * col("nj")))
    val w = Window.partitionBy("i").orderBy(col("lift_e6").desc, col("j"))
    scored.withColumn("rec_rank", row_number().over(w).cast("long"))
      .filter(col("rec_rank") <= 3)
      .select(col("i").cast("long").as("item"), col("rec_rank"),
        col("j").cast("long").as("rec"), col("lift_e6"))
      .orderBy("item", "rec_rank")
  }

  /** Supplier-concentration HHI per part — the sole-source-risk screen
    * procurement runs (Herfindahl–Hirschman index over each part's
    * supplier quantity shares: 10⁶ = one supplier owns the part, 10⁶/k
    * = k equal suppliers): HHI = Σ_s (q_s/Q)² stays the exact rational
    * (Σq_s²·10⁶ then one rounded division — no share float per
    * supplier), computed in two keyed aggregations. Emitted per part
    * with the supplier count; the (n_suppliers = 1, hhi = 10⁶) rows
    * ARE the sole-source risk register. */
  private def q292(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val bySupp = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey").cast("long").as("part"),
        col("l_suppkey").cast("long").as("supp"))
      .agg(sum(col("l_quantity").cast("long").cast("decimal(38,0)"))
        .cast("long").as("qs"))
    bySupp.groupBy("part")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("qs").cast("decimal(38,0)")).cast("long").as("q_total"),
        sum(col("qs").cast("decimal(38,0)") * col("qs")).as("sq"))
      .select(col("part").as("p_partkey"), col("n_suppliers"),
        intDivExact(
          col("sq") * lit(2000000L) +
            col("q_total").cast("decimal(38,0)") * col("q_total"),
          lit(2L) * col("q_total").cast("decimal(38,0)") * col("q_total"))
          .as("hhi_e6"))
      .orderBy("p_partkey")
  }

  /** Open-order aging — the work-in-progress buckets next to q271's
    * backlog COUNT: every order with no lineitem at all (the forever-
    * open set q271 surfaces) or whose latest ship date trails the
    * corpus horizon... here, simpler and sharper: orders with NO
    * lineitems, aged from their order date to the corpus' max ship
    * date, bucketed by years-open. The census finance reads as "how
    * stale is the stuck work"; exact integer day arithmetic, one
    * anti-join + one broadcast horizon. */
  private def q293(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val horizon = Tables.load(s, dir, "lineitem")
      .groupBy().agg(max("l_shipdate").as("hz"))
    val open = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey")).distinct(),
        Seq("o_orderkey"), "left_anti")
    open.crossJoin(broadcast(horizon))
      .withColumn("age_days",
        datediff(col("hz"), col("o_orderdate")).cast("long"))
      .withColumn("years_open", intDiv(col("age_days"), lit(365L)))
      .groupBy("years_open")
      .agg(count(lit(1)).as("n_orders"),
        min("age_days").as("min_age_days"),
        max("age_days").as("max_age_days"))
      .orderBy("years_open")
  }

  /** Top-10 brand leaderboard churn 1996 → 1997 — the "trending list"
    * diff every dashboard ships (what entered, what exited, who moved):
    * per year, brands ranked by exact revenue cents under the
    * deterministic (rev DESC, brand) order (the rank window partitions
    * per year over the BRAND-cardinality aggregate — bounded, never the
    * fact table), the two top-10 lists full-outer join on brand, and
    * each row carries its status and absolute rank displacement. The
    * q282 bridge says how much money moved; this says which NAMES moved
    * — the pair is the whole executive page. */
  private def q285(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def top(y: Int, rc: String): DataFrame = {
      val w = Window.orderBy(col("rev4").desc, col("p_brand"))
      Tables.load(s, dir, "orders")
        .filter(expr(s"year(o_orderdate) = $y"))
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.load(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sumCents(vol4).as("rev4"))
        .withColumn(rc, row_number().over(w).cast("long"))
        .filter(col(rc) <= 10)
        .select(col("p_brand").as("brand"), col(rc))
    }
    top(1996, "rank_1996")
      .join(top(1997, "rank_1997"), Seq("brand"), "full_outer")
      .select(col("brand"), col("rank_1996"), col("rank_1997"),
        when(col("rank_1996").isNull, "entered")
          .when(col("rank_1997").isNull, "exited")
          .otherwise("stayed").as("status"),
        coalesce(abs(col("rank_1997") - col("rank_1996")), lit(-1L))
          .as("displacement"))
      .orderBy("brand")
  }

  /** Revenue bridge (price/volume/mix waterfall) 1996 → 1997 — the
    * FP&A decomposition of WHY revenue moved: per part with sales in
    * both years, volume effect = (Q₂−Q₁)·(R₁/Q₁) and price effect =
    * R₂ − Q₂·(R₁/Q₁) (the standard prior-price basis — they sum to
    * that part's ΔR EXACTLY before rounding); parts sold only in one
    * year land whole in the new/lost buckets. Each part's effects are
    * exact rationals rounded ONCE to integer cents (intDivExact), so
    * the bridge identity R₂ − R₁ = new − lost + volume + price +
    * residual holds EXACTLY with residual ≡ 0: both effects share the
    * ONE rounded basis Q₂·R₁/Q₁, which cancels in their sum — the
    * rounding moves the volume/price SPLIT by ≤ 1 cent per part but
    * never the bridge total, so the residual column is a pinned-zero
    * invariant (most BI tools silently absorb a nonzero one). One fact
    * scan per year arm, one part-keyed full outer join, one global
    * rollup. */
  private def q282(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    def year(y: Int, qc: String, rc: String): DataFrame =
      Tables.load(s, dir, "orders")
        .filter(expr(s"year(o_orderdate) = $y"))
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_partkey").cast("long").as("part"))
        .agg(sum(col("l_quantity").cast("long").cast("decimal(38,0)"))
          .cast("long").as(qc),
          sumCents(cents(col("l_extendedprice"))).as(rc))
    val j = year(1996, "q1", "r1")
      .join(year(1997, "q2", "r2"), Seq("part"), "full_outer")
    val basis = intDivExact( // Q₂·R₁/Q₁ rounded once, reused by both
      col("q2").cast("decimal(38,0)") * col("r1") * lit(2L) + col("q1"),
      lit(2L) * col("q1"))
    val classified = j.select(col("part"),
      coalesce(col("q1"), lit(0L)).as("q1"),
      coalesce(col("r1"), lit(0L)).as("r1"),
      coalesce(col("q2"), lit(0L)).as("q2"),
      coalesce(col("r2"), lit(0L)).as("r2"),
      (col("q1").isNull).as("is_new"), (col("q2").isNull).as("is_lost"))
    classified
      .withColumn("basis",
        when(col("is_new") || col("is_lost"), lit(0L)).otherwise(basis))
      .groupBy()
      .agg(count(lit(1)).as("n_parts"),
        sum(col("r1").cast("decimal(38,0)")).cast("long").as("rev1"),
        sum(col("r2").cast("decimal(38,0)")).cast("long").as("rev2"),
        sum(when(col("is_new"), col("r2")).otherwise(0L)
          .cast("decimal(38,0)")).cast("long").as("new_rev"),
        sum(when(col("is_lost"), col("r1")).otherwise(0L)
          .cast("decimal(38,0)")).cast("long").as("lost_rev"),
        sum(when(!col("is_new") && !col("is_lost"),
          col("basis") - col("r1")).otherwise(0L)
          .cast("decimal(38,0)")).cast("long").as("volume_effect"),
        sum(when(!col("is_new") && !col("is_lost"),
          col("r2") - col("basis")).otherwise(0L)
          .cast("decimal(38,0)")).cast("long").as("price_effect"))
      .withColumn("residual",
        col("rev2") - col("rev1") - col("new_rev") + col("lost_rev") -
          col("volume_effect") - col("price_effect"))
  }

  /** Order-backlog time series — the fulfillment ops curve ("how many
    * orders are open right now, and is it growing?"): per month, orders
    * PLACED (by o_orderdate) and orders COMPLETED (the month of their
    * LAST lineitem shipment — an order is open until its final line
    * ships), with the running backlog = cum(placed) − cum(completed).
    * The month series is calendar-bounded (~80 rows), so the one
    * ordered window is support-bounded, not data-bounded (the q236
    * discipline); everything upstream is keyed aggregation. The
    * books-balance invariant the hash pins: the final backlog equals
    * EXACTLY the count of orders with no lineitems at all (257 at
    * sf0.01 — forever-open orders, the data-quality finding this curve
    * surfaces; with complete line data it would end at 0). */
  private def q271(s: SparkSession, dir: String): DataFrame = {
    val placed = Tables.load(s, dir, "orders")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_placed"))
    val completed = Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(max("l_shipdate").as("done"))
      .groupBy(date_format(date_trunc("month", col("done")), "yyyy-MM")
        .as("month"))
      .agg(count(lit(1)).as("n_completed"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("month")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    placed.join(completed, Seq("month"), "full_outer")
      .select(col("month"),
        coalesce(col("n_placed"), lit(0L)).as("n_placed"),
        coalesce(col("n_completed"), lit(0L)).as("n_completed"))
      .withColumn("backlog",
        sum(col("n_placed") - col("n_completed")).over(w))
      .orderBy("month")
  }

  /** ABC (Pareto) inventory classification — parts ranked by revenue,
    * class A until 80% of cumulative revenue, B until 95%, C after: the
    * classic "20% of parts carry 80% of value" cut, computed with NO
    * single-task window: the revenue order is [[graft.operators
    * .GlobalRank]] and the cumulative sums are [[graft.operators
    * .PrefixScan.runningSum]] (range-repartition + broadcast prefix
    * seeds), classes fall out of exact integer comparisons
    * 100·cum ≤ 80·total (no percentage float ever exists). Output is
    * the three-row class census — the hash pins both boundaries. */
  private def q272(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    // localCheckpoint (r20, guide §1.2): the part-grain revenue table
    // feeds the eager running-sum pass AND the class-total aggregate —
    // lazily planned, the lineitem scan + aggregation ran twice.
    // O(parts) rows, checkpoint-safe.
    val rev = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey").cast("long").as("part"))
      .agg(sumCents(vol4).as("rev4"))
      .transform(checkpoint)
    // ONE scan pass (r21, guide §1.2): the rank column existed only to
    // carry the (rev4 desc, part) order into a SECOND PrefixScan pass —
    // two range shuffles, two checkpoints, two collect jobs for one
    // total order. The running sum folds in that order directly; the
    // cumulative values (and therefore every class boundary) are
    // bit-identical.
    val cum = PrefixScan.runningSum(rev, "rev4", "cum4",
      col("rev4").desc, col("part").asc)
    val tot = rev.groupBy()
      .agg(sum(col("rev4").cast("decimal(38,0)")).cast("long").as("tot4"))
    cum.crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum4").cast("decimal(38,0)") * 100L <=
          col("tot4").cast("decimal(38,0)") * 80L, "A")
          .when(col("cum4").cast("decimal(38,0)") * 100L <=
            col("tot4").cast("decimal(38,0)") * 95L, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev4").cast("decimal(38,0)")).cast("long")
          .as("class_rev4"))
      .orderBy("abc_class")
  }

  /** One-level decision stump (best Gini split) — the ML-primitive
    * census a feature-engineering pipeline runs to rank a candidate
    * feature before any training: for every threshold t on l_quantity,
    * the weighted Gini impurity of splitting `is returned` (l_returnflag
    * = 'R') at q ≤ t, with the argmin flagged. The impurity collapses to
    * ONE exact rational: weighted Gini = 2·(r_L(n_L−r_L)·n_R +
    * r_R(n_R−r_R)·n_L) / (n_L·n_R·N), emitted on the e9 grid through
    * decimal(38,0)/HUGEINT (operands pass decimal38 up to ~10¹⁰ rows —
    * past that, rescale the grid; the [[graft.functions.Rounding
    * .requireNotNull]] guard turns the overflow into a loud failure).
    * Candidate thresholds come from ONE groupBy over the ≤50 distinct
    * quantities; the cumulative (n_L, r_L) pass is a window over that
    * bounded table (the q216 bounded-window argument); the best split is
    * a (gini, t) min-struct — deterministic ties to the smaller t. */
  private def q298(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{intDivExact, requireNotNull}
    import org.apache.spark.sql.expressions.Window
    val byQ = Tables.load(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("q"),
        (col("l_returnflag") === "R").cast("long").as("r"))
      .groupBy("q")
      .agg(count(lit(1)).as("n"), sum("r").as("rr"))
    val w = Window.orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byQ.agg(sum("n").as("nt"), sum("rr").as("rt"))
    val cum = byQ
      .withColumn("nl", sum("n").over(w))
      .withColumn("rl", sum("rr").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("rr2", col("rt") - col("rl"))
      .filter(col("nr") > 0L) // the max-q "split" keeps everything left
      .withColumn("gini_e9", requireNotNull(
        intDivExact(
          lit(2000000000L) *
            (col("rl").cast("decimal(38,0)") * (col("nl") - col("rl")) *
              col("nr") +
              col("rr2").cast("decimal(38,0)") * (col("nr") - col("rr2")) *
                col("nl")),
          col("nl").cast("decimal(38,0)") * col("nr") * col("nt")),
        "q298 gini_e9 overflowed decimal(38,0) -- rescale the e9 grid " +
          "(documented bound ~10^10 rows)"))
    val best = cum.agg(min(struct(col("gini_e9"), col("q"))).as("m"))
      .select(col("m.q").as("best_q"))
    cum.crossJoin(broadcast(best))
      .select(col("q").as("threshold"), col("nl").as("n_left"),
        col("rl").as("r_left"), col("nr").as("n_right"),
        col("rr2").as("r_right"), col("gini_e9"),
        (col("q") === col("best_q")).cast("long").as("is_best"))
      .orderBy("threshold")
  }

  /** Contribution analysis ("why did the metric move"): the 1996→1997
    * revenue delta decomposed BY CUSTOMER NATION — the first question
    * every BI review asks of a moved total, answered exactly: per
    * nation, both years' e4 fixed-point revenue, the signed delta, its
    * signed e4 share of the NET change (truncated toward zero —
    * dividend-signed in both engines; shares can exceed ±10⁴ when
    * nations move in opposite directions, which is exactly the
    * offsetting-moves insight the decomposition exists to surface), and
    * the rank by |delta| (ties to nation name). Σdelta ≡ net by
    * construction — the decomposition is complete, not sampled.
    * full_outer keeps nations present in only one year. The ranking
    * window is over the 25-nation dimension — bounded. */
  private def q312(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    import org.apache.spark.sql.expressions.Window
    def yr(y: Int, out: String): DataFrame =
      Tables.load(s, dir, "orders")
        .filter(expr(s"year(o_orderdate) = $y"))
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sumCents(vol4).as(out))
    val j = yr(1996, "rev96_4").join(yr(1997, "rev97_4"),
        Seq("nation"), "full_outer")
      .select(col("nation"),
        coalesce(col("rev96_4"), lit(0L)).as("rev96_4"),
        coalesce(col("rev97_4"), lit(0L)).as("rev97_4"))
      .withColumn("delta_4", col("rev97_4") - col("rev96_4"))
    val net = j.agg(
      sum(col("delta_4").cast("decimal(38,0)")).cast("long").as("net_4"))
    j.crossJoin(broadcast(net))
      .withColumn("contrib_e4",
        when(col("net_4") =!= 0L, intDivExact(
          col("delta_4").cast("decimal(38,0)") * lit(10000L),
          col("net_4"))).otherwise(lit(null).cast("long")))
      .withColumn("rnk", row_number().over(
        Window.orderBy(abs(col("delta_4")).desc, col("nation")))
        .cast("long"))
      .select("rnk", "nation", "rev96_4", "rev97_4", "delta_4",
        "contrib_e4")
      .orderBy("rnk")
  }

  val defs: Map[String, Q] = Map(
    "q298_gini_stump" -> (q298 _),
    "q312_top_movers" -> (q312 _),
    "q241_tpch_refresh" -> (q241 _),
    "q243_bom_rollup" -> (q243 _),
    "q260_key_gap_audit" -> (q260 _),
    "q267_item_recs" -> (q267 _),
    "q271_open_backlog" -> (q271 _),
    "q272_abc_classes" -> (q272 _),
    "q282_revenue_bridge" -> (q282 _),
    "q285_leaderboard_churn" -> (q285 _),
    "q292_supplier_hhi" -> (q292 _),
    "q293_backlog_aging" -> (q293 _),
    "q203_product_profit" -> (q203 _),
    "q204_order_count_dist" -> (q204 _),
    "q205_top_supplier" -> (q205 _),
    "q206_small_qty_revenue" -> (q206 _),
    "q207_dominant_supplier" -> (q207 _),
    "q180_filtered_revenue" -> (q180 _),
    "q181_important_stock" -> (q181 _),
    "q178_skyline" -> (q178 _),
    "q179_running_revenue" -> (q179 _),
    "q175_region_share" -> (q175 _),
    "q57_volume_shipping" -> (q57 _),
    "q210_two_nation_shipping" -> (q210 _),
    "q145_local_supplier_volume" -> (q145 _),
    "q146_returned_items" -> (q146 _),
    "q58_market_share" -> (q58 _),
    "q59_min_cost_supplier" -> (q59 _),
    "q65_range_join_binned" -> (q65 _),
    "q93_shipping_priority" -> (q93 _),
    "q128_cooccur" -> (q128 _),
    "q143_shipping_latency" -> (q143 _),
    "q163_order_priority" -> (q163 _),
    "q164_class_priority" -> (q164 _),
    "q165_promo_share" -> (q165 _),
    "q166_supplier_census" -> (q166 _),
    "q167_big_orders" -> (q167 _),
    "q168_disjunctive_join" -> (q168 _),
    "q169_last_to_ship" -> (q169 _),
    "q170_dormant_balances" -> (q170 _))

  /** `vol4`'s oracle spelling (10⁻⁴ fixed-point line volume). */
  private def volSql: String =
    "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * " +
      "CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)"

  val oracle: Map[String, String] = Map(
    // same joins, same e4 revenue basis, same signed truncating share
    // and |delta| ranking
    "q312_top_movers" -> {
      val vol = s"${graft.functions.Rounding.centsSql("l_extendedprice")} * " +
        s"${graft.functions.Rounding.centsSql("1 - l_discount")}"
      s"""WITH y AS (
        |  SELECT n_name AS nation, year(o_orderdate) AS yy,
        |    CAST(sum(CAST($vol AS DECIMAL(38,0))) AS BIGINT) AS rev4
        |  FROM orders
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT COALESCE(a.nation, b.nation) AS nation,
        |    COALESCE(a.rev4, 0) AS rev96_4, COALESCE(b.rev4, 0) AS rev97_4
        |  FROM (SELECT nation, rev4 FROM y WHERE yy = 1996) a
        |  FULL OUTER JOIN (SELECT nation, rev4 FROM y WHERE yy = 1997) b
        |    ON a.nation = b.nation),
        |d AS (SELECT nation, rev96_4, rev97_4,
        |        rev97_4 - rev96_4 AS delta_4 FROM p),
        |net AS (SELECT CAST(sum(CAST(delta_4 AS HUGEINT)) AS BIGINT)
        |          AS net_4 FROM d)
        |SELECT CAST(row_number() OVER (ORDER BY abs(delta_4) DESC, nation)
        |    AS BIGINT) AS rnk,
        |  nation, rev96_4, rev97_4, delta_4,
        |  CASE WHEN net_4 <> 0 THEN
        |    CAST(CAST(delta_4 AS HUGEINT) * 10000 // net_4 AS BIGINT)
        |  ELSE NULL END AS contrib_e4
        |FROM d, net ORDER BY rnk""".stripMargin
    },
    // same bounded-threshold cumulative pass, the identical one-rational
    // Gini through HUGEINT, ties to the smaller threshold
    "q298_gini_stump" ->
      """WITH b AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        |  FROM lineitem),
        |g AS (SELECT q, count(*) AS n, CAST(sum(r) AS BIGINT) AS rr
        |      FROM b GROUP BY q),
        |c AS (
        |  SELECT q,
        |    sum(n) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS nl,
        |    sum(rr) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS rl
        |  FROM g),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |               CAST(sum(rr) AS BIGINT) AS rt FROM g),
        |s AS (
        |  SELECT q, nl, rl, nt - nl AS nr, rt - rl AS rr2, nt
        |  FROM c, tot WHERE nt - nl > 0),
        |sc AS (
        |  SELECT q, nl, rl, nr, rr2,
        |    CAST((2000000000 * (CAST(rl AS HUGEINT) * (nl - rl) * nr
        |        + CAST(rr2 AS HUGEINT) * (nr - rr2) * nl))
        |      // (CAST(nl AS HUGEINT) * nr * nt) AS BIGINT) AS gini_e9
        |  FROM s),
        |best AS (SELECT q AS best_q FROM sc ORDER BY gini_e9, q LIMIT 1)
        |SELECT q AS threshold, CAST(nl AS BIGINT) AS n_left,
        |  CAST(rl AS BIGINT) AS r_left, CAST(nr AS BIGINT) AS n_right,
        |  CAST(rr2 AS BIGINT) AS r_right, gini_e9,
        |  CAST(q = best_q AS BIGINT) AS is_best
        |FROM sc, best ORDER BY threshold""".stripMargin,
    // same two keyed aggregations, HUGEINT squares, one exact division
    "q292_supplier_hhi" -> {
      import graft.functions.Rounding.intDivExactSql
      val hhi = intDivExactSql(
        "sq * 2000000 + CAST(q_total AS HUGEINT) * q_total",
        "2 * CAST(q_total AS HUGEINT) * q_total")
      s"""WITH bs AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS part,
        |    CAST(l_suppkey AS BIGINT) AS supp,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qs
        |  FROM lineitem GROUP BY 1, 2),
        |agg AS (
        |  SELECT part, count(*) AS n_suppliers,
        |    CAST(sum(qs) AS BIGINT) AS q_total,
        |    CAST(sum(CAST(qs AS HUGEINT) * qs) AS HUGEINT) AS sq
        |  FROM bs GROUP BY part)
        |SELECT part AS p_partkey, n_suppliers, $hhi AS hhi_e6
        |FROM agg ORDER BY p_partkey""".stripMargin
    },
    // same anti-join open set, same integer aging
    "q293_backlog_aging" -> {
      import graft.functions.Rounding.intDivSql
      s"""WITH hz AS (SELECT max(l_shipdate) AS hz FROM lineitem),
        |open_o AS (
        |  SELECT o.o_orderkey, o.o_orderdate
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey)),
        |aged AS (
        |  SELECT CAST(date_diff('day', o_orderdate, hz) AS BIGINT)
        |    AS age_days
        |  FROM open_o, hz)
        |SELECT ${intDivSql("age_days", "365")} AS years_open,
        |  count(*) AS n_orders,
        |  min(age_days) AS min_age_days,
        |  max(age_days) AS max_age_days
        |FROM aged GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // same per-year top-10 lists, same status/displacement projection
    "q285_leaderboard_churn" -> {
      import graft.functions.Rounding.{centsSql, sumCentsSql}
      def top(y: Int, rc: String) =
        s"""SELECT brand, CAST(row_number() OVER (
           |    ORDER BY rev4 DESC, brand) AS BIGINT) AS $rc
           |FROM (
           |  SELECT p_brand AS brand,
           |    ${sumCentsSql(volSql)} AS rev4
           |  FROM orders
           |  JOIN lineitem ON o_orderkey = l_orderkey
           |  JOIN part ON l_partkey = p_partkey
           |  WHERE year(o_orderdate) = $y GROUP BY 1)
           |QUALIFY $rc <= 10""".stripMargin
      s"""WITH t96 AS (${top(1996, "rank_1996")}),
        |t97 AS (${top(1997, "rank_1997")})
        |SELECT coalesce(a.brand, b.brand) AS brand,
        |  rank_1996, rank_1997,
        |  CASE WHEN rank_1996 IS NULL THEN 'entered'
        |       WHEN rank_1997 IS NULL THEN 'exited'
        |       ELSE 'stayed' END AS status,
        |  coalesce(abs(rank_1997 - rank_1996), -1) AS displacement
        |FROM t96 a FULL OUTER JOIN t97 b ON a.brand = b.brand
        |ORDER BY brand""".stripMargin
    },
    // same shared rounded basis, same bucket CASEs, residual stated as
    // the bridge identity
    "q282_revenue_bridge" -> {
      import graft.functions.Rounding.{centsSql, sumCentsSql,
        intDivExactSql}
      def yr(y: Int, q: String, r: String) =
        s"""SELECT CAST(l_partkey AS BIGINT) AS part,
           |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS $q,
           |  ${sumCentsSql(centsSql("l_extendedprice"))} AS $r
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE year(o_orderdate) = $y GROUP BY 1""".stripMargin
      val basis = intDivExactSql(
        "CAST(q2 AS HUGEINT) * r1 * 2 + q1", "2 * q1")
      s"""WITH y1 AS (${yr(1996, "q1", "r1")}),
        |y2 AS (${yr(1997, "q2", "r2")}),
        |j AS (
        |  SELECT coalesce(y1.part, y2.part) AS part,
        |    coalesce(q1, 0) AS q1, coalesce(r1, 0) AS r1,
        |    coalesce(q2, 0) AS q2, coalesce(r2, 0) AS r2,
        |    y1.part IS NULL AS is_new, y2.part IS NULL AS is_lost
        |  FROM y1 FULL OUTER JOIN y2 ON y1.part = y2.part),
        |b AS (
        |  SELECT *, CASE WHEN is_new OR is_lost THEN 0
        |    ELSE $basis END AS basis
        |  FROM j),
        |agg AS (
        |  SELECT count(*) AS n_parts,
        |    CAST(sum(r1) AS BIGINT) AS rev1,
        |    CAST(sum(r2) AS BIGINT) AS rev2,
        |    CAST(sum(CASE WHEN is_new THEN r2 ELSE 0 END) AS BIGINT)
        |      AS new_rev,
        |    CAST(sum(CASE WHEN is_lost THEN r1 ELSE 0 END) AS BIGINT)
        |      AS lost_rev,
        |    CAST(sum(CASE WHEN NOT is_new AND NOT is_lost
        |      THEN basis - r1 ELSE 0 END) AS BIGINT) AS volume_effect,
        |    CAST(sum(CASE WHEN NOT is_new AND NOT is_lost
        |      THEN r2 - basis ELSE 0 END) AS BIGINT) AS price_effect
        |  FROM b)
        |SELECT *, rev2 - rev1 - new_rev + lost_rev - volume_effect
        |  - price_effect AS residual
        |FROM agg""".stripMargin
    },
    // same placed/completed month rollups, one bounded ordered window
    "q271_open_backlog" ->
      """WITH placed AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
        |      AS month,
        |    count(*) AS n_placed
        |  FROM orders GROUP BY 1),
        |done AS (
        |  SELECT l_orderkey, max(l_shipdate) AS done
        |  FROM lineitem GROUP BY 1),
        |completed AS (
        |  SELECT strftime(date_trunc('month', done), '%Y-%m') AS month,
        |    count(*) AS n_completed
        |  FROM done GROUP BY 1),
        |j AS (
        |  SELECT coalesce(p.month, c.month) AS month,
        |    coalesce(n_placed, 0) AS n_placed,
        |    coalesce(n_completed, 0) AS n_completed
        |  FROM placed p FULL OUTER JOIN completed c ON p.month = c.month)
        |SELECT month, n_placed, n_completed,
        |  CAST(sum(n_placed - n_completed) OVER (ORDER BY month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS backlog
        |FROM j ORDER BY month""".stripMargin,
    // row_number + framed running sum are the engine's GlobalRank +
    // PrefixScan; identical integer class cuts
    "q272_abc_classes" ->
      s"""WITH rev AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS part,
        |    ${graft.functions.Rounding.sumCentsSql(volSql)} AS rev4
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT part, rev4,
        |    CAST(row_number() OVER (ORDER BY rev4 DESC, part)
        |      AS BIGINT) AS rnk
        |  FROM rev),
        |cum AS (
        |  SELECT *, sum(rev4) OVER (ORDER BY rnk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum4
        |  FROM ranked),
        |tot AS (SELECT CAST(sum(rev4) AS BIGINT) AS tot4 FROM rev)
        |SELECT CASE
        |    WHEN CAST(cum4 AS HUGEINT) * 100 <=
        |      CAST(tot4 AS HUGEINT) * 80 THEN 'A'
        |    WHEN CAST(cum4 AS HUGEINT) * 100 <=
        |      CAST(tot4 AS HUGEINT) * 95 THEN 'B'
        |    ELSE 'C' END AS abc_class,
        |  count(*) AS n_parts,
        |  CAST(sum(rev4) AS BIGINT) AS class_rev4
        |FROM cum, tot GROUP BY 1 ORDER BY 1""".stripMargin,
    // q128's capped pairs symmetrized + the exact rational lift;
    // HUGEINT mirrors the decimal widening
    "q267_item_recs" -> {
      import graft.functions.Rounding.intDivExactSql
      val lift = intDivExactSql(
        "CAST(co AS HUGEINT) * n_total * 2000000 + ni.n_ord * nj.n_ord",
        "2 * ni.n_ord * nj.n_ord")
      s"""WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsize
        |    FROM items)
        |  WHERE bsize <= 8),
        |pr AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS co
        |  FROM capped a JOIN capped b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT p1 AS i, p2 AS j, co FROM pr
        |        UNION ALL SELECT p2, p1, co FROM pr),
        |n_i AS (
        |  SELECT l_partkey AS item, count(*) AS n_ord
        |  FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n_total
        |        FROM lineitem),
        |sc AS (
        |  SELECT i, j, $lift AS lift_e6
        |  FROM sym
        |  JOIN n_i ni ON sym.i = ni.item
        |  JOIN n_i nj ON sym.j = nj.item, tot)
        |SELECT CAST(i AS BIGINT) AS item,
        |  CAST(row_number() OVER (PARTITION BY i
        |    ORDER BY lift_e6 DESC, j) AS BIGINT) AS rec_rank,
        |  CAST(j AS BIGINT) AS rec, lift_e6
        |FROM sc
        |QUALIFY rec_rank <= 3
        |ORDER BY item, rec_rank""".stripMargin
    },
    // the boundary-pairing histogram equals the single-window lag form
    "q260_key_gap_audit" ->
      """WITH ks AS (
        |  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k FROM orders
        |  WHERE o_orderstatus = 'F'),
        |l AS (SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM ks)
        |SELECT CAST(k - pk - 1 AS BIGINT) AS gap_len, count(*) AS n_gaps
        |FROM l WHERE k - pk > 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the ancestor explosion restated as three UNION ALL projections;
    // DuckDB // is the engine's intDiv on these positive keys
    "q243_bom_rollup" -> {
      import graft.functions.Rounding.{centsSql, sumCentsSql}
      s"""WITH p AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS pk,
        |    ${centsSql("p_retailprice")} AS price_cents
        |  FROM part),
        |contrib AS (
        |  SELECT anc, price_cents FROM (
        |    SELECT pk // 2 AS anc, price_cents FROM p
        |    UNION ALL SELECT pk // 4, price_cents FROM p
        |    UNION ALL SELECT pk // 8, price_cents FROM p)
        |  WHERE anc >= 1),
        |r AS (
        |  SELECT anc, count(*) AS n_desc,
        |    ${sumCentsSql("price_cents")} AS desc_cents
        |  FROM contrib GROUP BY anc)
        |SELECT pk AS p_partkey, price_cents AS own_cents,
        |  coalesce(n_desc, 0) AS n_desc,
        |  coalesce(desc_cents, 0) AS desc_cents
        |FROM p LEFT JOIN r ON pk = anc
        |ORDER BY p_partkey""".stripMargin
    },
    // same synthesized refresh set (mod-97 clone above the key offset),
    // same three arms over one base CTE
    "q241_tpch_refresh" -> {
      import graft.functions.Rounding.{centsSql, sumCentsSql}
      val pc = centsSql("l_extendedprice")
      s"""WITH base AS (
        |  SELECT l_orderkey, l_returnflag, $pc AS price_cents
        |  FROM lineitem),
        |ins AS (
        |  SELECT l_orderkey + 2000000000 AS l_orderkey, l_returnflag,
        |    price_cents
        |  FROM base WHERE l_orderkey % 97 = 0),
        |after_ins AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM ins),
        |after_del AS (
        |  SELECT * FROM after_ins WHERE l_orderkey < 2000000000),
        |a_base AS (
        |  SELECT l_returnflag, count(*) AS n_base,
        |    ${sumCentsSql("price_cents")} AS base_cents
        |  FROM base GROUP BY 1),
        |a_ins AS (
        |  SELECT l_returnflag, count(*) AS n_ins,
        |    ${sumCentsSql("price_cents")} AS after_insert_cents
        |  FROM after_ins GROUP BY 1),
        |a_del AS (
        |  SELECT l_returnflag, count(*) AS n_del,
        |    ${sumCentsSql("price_cents")} AS after_delete_cents
        |  FROM after_del GROUP BY 1)
        |SELECT a_base.l_returnflag, n_base, base_cents,
        |  n_ins, after_insert_cents, n_del, after_delete_cents,
        |  CAST(n_del = n_base AND after_delete_cents = base_cents
        |    AS BIGINT) AS roundtrip_ok
        |FROM a_base
        |JOIN a_ins USING (l_returnflag)
        |JOIN a_del USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin
    },
    "q203_product_profit" ->
      s"""SELECT n.n_name AS nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  floor((CAST(sum(CAST($volSql
        |    - CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) *
        |      CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0
        |    AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n ON s_nationkey = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q204_order_count_dist" ->
      """WITH oc AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT'),
        |c AS (
        |  SELECT c_custkey, count(o_custkey) AS c_count
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM c GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q205_top_supplier" -> {
      import graft.functions.Rounding.sumCentsSql
      s"""WITH rev AS (
        |  SELECT l_suppkey, ${graft.functions.Rounding.sumCentsSql(volSql)} AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1995-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(rev4) AS mx FROM rev)
        |SELECT r.l_suppkey AS s_suppkey, s.s_name,
        |  floor((CAST(r.rev4 AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0
        |    AS total_revenue
        |FROM rev r CROSS JOIN mx
        |JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.rev4 = mx.mx
        |ORDER BY s_suppkey""".stripMargin
    },
    "q206_small_qty_revenue" -> {
      import graft.functions.Rounding.sumCentsSql
      s"""WITH li AS (
        |  SELECT l_partkey,
        |    CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qc,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS pc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#17'),
        |st AS (
        |  SELECT l_partkey AS pk, ${sumCentsSql("qc")} AS sq,
        |    count(*) AS n
        |  FROM li GROUP BY 1)
        |SELECT floor((CAST(sum(pc) AS DOUBLE) / 100.0 / 7.0) * 100.0 + 0.5)
        |  / 100.0 AS avg_yearly
        |FROM li JOIN st ON li.l_partkey = st.pk
        |WHERE qc * n * 10 < sq * 2""".stripMargin
    },
    "q207_dominant_supplier" -> {
      import graft.functions.Rounding.sumCentsSql
      s"""WITH li AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qc
        |  FROM lineitem WHERE year(l_shipdate) = 1995),
        |ps AS (
        |  SELECT l_partkey, l_suppkey, ${sumCentsSql("qc")} AS sq_ps
        |  FROM li GROUP BY 1, 2),
        |p AS (
        |  SELECT l_partkey, ${sumCentsSql("qc")} AS sq_p
        |  FROM li GROUP BY 1)
        |SELECT ps.l_suppkey AS s_suppkey, s.s_name,
        |  count(*) AS n_dominated_parts
        |FROM ps JOIN p ON ps.l_partkey = p.l_partkey
        |JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |WHERE ps.sq_ps * 2 > p.sq_p
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin
    },
    "q145_local_supplier_volume" ->
      """SELECT n_name AS nation,
        |  CAST(sum(CAST(
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |    CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY revenue_e4 DESC, nation""".stripMargin,
    "q146_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acctbal_cents,
        |  n_name AS nation,
        |  CAST(sum(CAST(
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |    CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin,
    "q57_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the oracle states Q7's filter in the spec's literal disjunctive
    // form — proving the engine's per-side IN + <> decomposition is
    // equivalent, not just faster
    "q210_two_nation_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  floor((CAST(sum($volSql) AS DOUBLE) / 10000.0) * 100.0 + 0.5)
        |    / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_15' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_15'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q93_shipping_priority" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |    CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10""".stripMargin,
    "q58_market_share" ->
      """WITH asia_cust AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |vols AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS vol,
        |    n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN asia_cust ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT o_year,
        |  floor((CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(vol) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
        |FROM vols GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q59_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey,
        |    l_suppkey,
        |    floor((CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_partkey, min(rev) AS min_rev FROM ps GROUP BY 1)
        |SELECT ps.l_partkey AS p_key, ps.l_suppkey AS s_key, s_name, rev
        |FROM ps
        |JOIN m ON ps.l_partkey = m.l_partkey AND ps.rev = m.min_rev
        |JOIN supplier ON ps.l_suppkey = s_suppkey
        |ORDER BY p_key, s_key""".stripMargin,
    "q65_range_join_binned" ->
      """WITH months AS (
        |  SELECT DISTINCT date_trunc('month', o_orderdate) AS month_start,
        |    date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS month_end
        |  FROM orders)
        |SELECT strftime(month_start, '%Y-%m-%d') AS month_start,
        |  count(*) AS n_items,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) * CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem JOIN months
        |  ON l_shipdate >= month_start AND l_shipdate < month_end
        |GROUP BY months.month_start
        |ORDER BY month_start""".stripMargin,
    "q128_cooccur" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |capped AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsize
        |    FROM items)
        |  WHERE bsize <= 8)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |FROM capped a JOIN capped b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,
    "q143_shipping_latency" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d')
        |    AS ship_month,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(date_diff('day', o_orderdate, l_shipdate) > 90
        |    AS BIGINT)) AS BIGINT) AS n_slow,
        |  CAST(sum(CAST(date_diff('day', o_orderdate, l_shipdate)
        |    AS DECIMAL(38,0))) AS BIGINT) AS sum_latency_days,
        |  CAST(max(date_diff('day', o_orderdate, l_shipdate))
        |    AS BIGINT) AS max_latency_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q180_filtered_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_quantity < 24
        |  AND CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
        |      BETWEEN 5 AND 7""".stripMargin,
    "q181_important_stock" ->
      """WITH nat_supp AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'),
        |pv AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(
        |      CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |      CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)
        |      AS DECIMAL(38,0))) AS BIGINT) AS value_e4
        |  FROM lineitem JOIN nat_supp ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(CAST(value_e4 AS DECIMAL(38,0))) AS BIGINT)
        |          AS total_e4 FROM pv)
        |SELECT l_partkey, value_e4
        |FROM pv CROSS JOIN tot
        |WHERE CAST(value_e4 AS HUGEINT) * 1000 > CAST(total_e4 AS HUGEINT)
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin,
    "q178_skyline" ->
      """WITH pts AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS size
        |  FROM part)
        |SELECT p_partkey, price_c, size FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.price_c <= a.price_c AND b.size <= a.size
        |    AND (b.price_c < a.price_c OR b.size < a.size))
        |ORDER BY price_c, p_partkey""".stripMargin,
    "q179_running_revenue" ->
      """WITH ord AS (
        |  SELECT o_orderkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
        |  FROM orders),
        |cum AS (
        |  SELECT o_orderkey, o_orderdate, price_cents,
        |    CAST(sum(price_cents) OVER (ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM ord),
        |tot AS (SELECT CAST(sum(price_cents) AS BIGINT) AS total_cents
        |        FROM ord)
        |SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  price_cents, cum_cents,
        |  CAST(CAST(cum_cents AS HUGEINT) * 1000000 //
        |    CAST(total_cents AS HUGEINT) AS BIGINT) AS cum_ppm
        |FROM cum CROSS JOIN tot
        |ORDER BY o_orderdate, o_orderkey""".stripMargin,
    "q175_region_share" ->
      """WITH geo AS (
        |  SELECT s_suppkey, n_name AS nation, r_name AS region
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |nat AS (
        |  SELECT region, nation,
        |    CAST(sum(CAST(
        |      CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |      CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT)
        |      AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4
        |  FROM lineitem JOIN geo ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |win AS (
        |  SELECT region, nation, revenue_e4,
        |    CAST(sum(CAST(revenue_e4 AS DECIMAL(38,0)))
        |      OVER (PARTITION BY region) AS BIGINT) AS region_total_e4,
        |    CAST(rank() OVER (PARTITION BY region
        |      ORDER BY revenue_e4 DESC, nation) AS BIGINT) AS rank_in_region
        |  FROM nat)
        |SELECT region, nation, revenue_e4, region_total_e4,
        |  CAST(CAST(revenue_e4 AS HUGEINT) * 1000000 //
        |    CAST(region_total_e4 AS HUGEINT) AS BIGINT) AS share_ppm,
        |  rank_in_region
        |FROM win ORDER BY region, rank_in_region""".stripMargin,
    "q163_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q164_class_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_low
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q165_promo_share" ->
      s"""WITH v AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d')
        |      AS ship_month,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |    CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS vol,
        |    CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS promo
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'),
        |agg AS (
        |  SELECT ship_month,
        |    CAST(sum(CAST(vol * promo AS DECIMAL(38,0))) AS BIGINT)
        |      AS promo_rev_e4,
        |    CAST(sum(CAST(vol AS DECIMAL(38,0))) AS BIGINT) AS total_rev_e4
        |  FROM v GROUP BY 1)
        |SELECT ship_month, promo_rev_e4, total_rev_e4,
        |  ${graft.functions.Rounding.intDivExactSql(
             "CAST(promo_rev_e4 AS HUGEINT) * 1000000", "total_rev_e4")}
        |    AS promo_share_e6
        |FROM agg ORDER BY ship_month""".stripMargin,
    "q166_supplier_census" ->
      """WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ok AS (
        |  SELECT l_partkey, l_suppkey FROM rel
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ok JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO'
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "q167_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)))
        |      AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)))
        |      AS BIGINT) > 150)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin,
    "q168_disjunctive_join" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(vol AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4
        |FROM (
        |  SELECT
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) *
        |    CAST(floor((1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS vol,
        |    CAST(l_quantity AS BIGINT) AS qty, p_brand, p_size
        |  FROM lineitem JOIN part ON l_partkey = p_partkey) t
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND qty BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND qty BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
        |       AND qty BETWEEN 20 AND 30)""".stripMargin,
    "q169_last_to_ship" ->
      """WITH ls AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS sup_last
        |  FROM lineitem GROUP BY 1, 2),
        |fl AS (
        |  SELECT l_orderkey, l_suppkey, sup_last,
        |    max(sup_last) OVER (PARTITION BY l_orderkey) AS ord_last,
        |    count(*) OVER (PARTITION BY l_orderkey) AS n_supp
        |  FROM ls),
        |fl2 AS (
        |  SELECT *,
        |    CAST(sum(CASE WHEN sup_last = ord_last THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_at_max
        |  FROM fl)
        |SELECT s_name, count(*) AS numwait
        |FROM fl2 JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supp > 1 AND n_at_max = 1 AND sup_last = ord_last
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q170_dormant_balances" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents
        |  FROM customer),
        |stats AS (
        |  SELECT CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
        |      AS sum_cents,
        |    count(*) AS n_pos
        |  FROM cust WHERE bal_cents > 0)
        |SELECT n_name AS nation, count(*) AS n_custs,
        |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
        |    AS total_cents
        |FROM cust
        |CROSS JOIN stats
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(bal_cents AS HUGEINT) * n_pos > CAST(sum_cents AS HUGEINT)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
