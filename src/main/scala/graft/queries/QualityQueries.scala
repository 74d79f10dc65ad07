package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.pipeline.DataQuality
import graft.pipeline.DataQuality._

/** The data-quality gate as a first-class, oracle-checked operator: the
  * declarative check set compiles to one aggregation pass
  * (pipeline/DataQuality.scala) and the report itself is the query result,
  * so the DuckDB oracle proves the CHECK SEMANTICS — null counting, range
  * violations, duplicate-key counting, row-count bounds — not just that a
  * report appeared. */
object QualityQueries extends QueryPack {

  private def q66(s: SparkSession, dir: String): DataFrame =
    DataQuality.report(
      Tables.load(s, dir, "documents"),
      Seq(
        HasColumn("doc_id"), HasColumn("text"), HasColumn("license"),
        NotNull("doc_id"), NotNull("text"), NotNull("lang"),
        InRange("n_chars", 1.0, 100000.0),
        Unique("doc_id"),
        RowCount(min = 1)))

  /** All of one child table's FK edges audited in a SINGLE scan: the
    * child chains one left join per parent (parents are PK-side, so row
    * count is preserved — uniqueness is the schema invariant this audit
    * presumes for parents while checking children), orphan counts fall
    * out as null-parent-key sums in ONE aggregation, and `stack` unpivots
    * the 1-row aggregate into per-edge report rows without re-running the
    * plan per edge (a per-edge anti-join formulation scans the child once
    * PER EDGE — 3× for lineitem). Parents broadcast: even a 1.5 B-row
    * orders key column is the small side next to a 100 TB lineitem. */
  def fkAudit(child: DataFrame,
              edges: Seq[(String, String, DataFrame, String)]): DataFrame = {
    val joined = edges.zipWithIndex.foldLeft(child) {
      case (df, ((_, ck, parent, pk), i)) =>
        df.join(broadcast(parent.select(col(pk).as(s"__pk$i"))),
          df(ck) === col(s"__pk$i"), "left")
    }
    val aggs = edges.indices.map(i =>
      sum(col(s"__pk$i").isNull.cast("long")).as(s"__o$i"))
    val rows = edges.zipWithIndex.flatMap { case ((name, _, _, _), i) =>
      Seq(lit(name), col(s"__o$i"))
    }
    joined.agg(count(lit(1)).as("n_child"), aggs: _*)
      .select(stack(lit(edges.size) +: rows: _*).as(Seq("fk_edge", "n_orphan")),
        col("n_child"))
      .select("fk_edge", "n_child", "n_orphan")
  }

  /** One FK edge — the single-edge face of [[fkAudit]]. */
  def fkEdge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame =
    fkAudit(child, Seq((name, ck, parent, pk)))

  /** Referential-integrity audit: orphan-foreign-key census over every FK
    * edge of the star schema (the lakehouse constraint check a warehouse
    * would enforce with DDL — here it's a query, because 100 TB fact
    * tables don't get FK indexes). Edges GROUP BY CHILD table so each
    * child scans once no matter how many parents it references (see
    * [[fkAudit]]); a NULL FK never joins, so it counts as an orphan in
    * both engines (left-join-null and NOT EXISTS agree on that
    * semantics). The synthetic tables are fully consistent (all-zero
    * orphan counts), so the orphan-counting path itself — real orphans
    * and NULL FKs — is pinned by DataQualitySpec on a violated fixture. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val t = (n: String) => Tables.load(s, dir, n)
    Seq(
      fkAudit(t("customer"), Seq(
        ("customer.c_nationkey->nation", "c_nationkey",
          t("nation"), "n_nationkey"))),
      fkAudit(t("events"), Seq(
        ("events.user_id->customer", "user_id",
          t("customer"), "c_custkey"))),
      fkAudit(t("lineitem"), Seq(
        ("lineitem.l_orderkey->orders", "l_orderkey",
          t("orders"), "o_orderkey"),
        ("lineitem.l_partkey->part", "l_partkey",
          t("part"), "p_partkey"),
        ("lineitem.l_suppkey->supplier", "l_suppkey",
          t("supplier"), "s_suppkey"))),
      fkAudit(t("orders"), Seq(
        ("orders.o_custkey->customer", "o_custkey",
          t("customer"), "c_custkey"))))
      .reduce(_ unionByName _)
      .orderBy("fk_edge")
  }

  /** k-anonymity census (k=5) over the quasi-identifier triple
    * (nation, market segment, $1000 account-balance bucket) — the
    * data-release audit a curation pipeline runs before publishing user-
    * derived tables: any QI group smaller than k re-identifies its
    * members and must be suppressed or generalized. One hash aggregation
    * on the QI columns; the balance bucket is floor(cents/100000) with
    * the cents grid making the double division boundary-safe (error
    * ~1e-13 against a 1e-5 grid step). Integer-only output. */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.cents
    Tables.load(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(cents(col("c_acctbal")).cast("double") / lit(100000.0))
          .cast("long").as("bal_bucket"))
      .groupBy("nation", "segment", "bal_bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("anonymous", (col("n") >= 5).cast("long"))
      .orderBy("nation", "segment", "bal_bucket")
  }

  /** Benford first-significant-digit census over order totals — the
    * classic forensic-accounting screen (organically-grown monetary data
    * follows log10(1+1/d); fabricated or truncated feeds don't). Emitted
    * as exact integer observed counts next to the e6-scaled EXPECTED
    * counts computed from a fixed table of integer-scaled Benford
    * shares — the shares are literals (floor(log10(1+1/d)·1e6) computed
    * once, offline), so no transcendental is evaluated in either engine
    * and the comparison column is pure integer arithmetic. One
    * aggregation; first digit falls out of the cents' decimal string. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{cents, intDivExact}
    // floor(log10(1 + 1/d) * 1e6) for d = 1..9 — fixed offline constants
    val benfordE6 = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    // element_at is 1-based, exactly the digit's index into the table
    val expectedE6 = element_at(
      array(benfordE6.map(lit): _*), col("digit").cast("int"))
    Tables.load(s, dir, "orders")
      .select(cents(col("o_totalprice")).as("vc"))
      .filter(col("vc") > 0)
      .select(substring(col("vc").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_e6_expected", expectedE6)
      .withColumn("n_total", sum("n").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      // n_total · share_e6 exceeds 2^53 once orders reaches ~3e10 rows:
      // widen the product to decimal BEFORE multiplying (long·long wraps
      // silently) and divide on the exact decimal/HUGEINT path
      .withColumn("n_expected",
        intDivExact(
          col("n_total").cast("decimal(19,0)") * col("share_e6_expected"),
          lit(1000000L)))
      .select("digit", "n", "n_expected", "share_e6_expected")
      .orderBy("digit")
  }

  /** Per-priority e10-scaled exact average order price, plus the signed
    * e10-scaled deviation from the global average — the continuous
    * oracle-side proof of [[graft.functions.Rounding.intDivExact]] beyond
    * the 2^53 double ceiling. The dividends are REAL here, not synthetic:
    * sum_cents·1e10 ≈ 4.5e20 at sf0.01 already exceeds 2^63, and the
    * deviation numerator (sum_cents·n_tot − tot_cents·n)·1e10 is signed,
    * so every row exercises decimal-chain division (Spark) against
    * HUGEINT `//` (DuckDB) including truncation-toward-zero on negative
    * dividends. All outputs integral: quotients ≤ ~1.5e17 fit BIGINT,
    * sum_cents fits BIGINT to ≳10^9 orders per priority. One aggregation
    * plus a 5-row window — the global total never leaves the executors. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.{cents, intDivExact}
    val e10 = lit(10000000000L)
    val w = Window.partitionBy(lit(1))
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("vc"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast("decimal(38,0)")).as("sum_d"))
      .withColumn("n_tot", sum("n").over(w))
      .withColumn("tot_d", sum("sum_d").over(w))
      .withColumn("avg_e10", intDivExact(col("sum_d") * e10, col("n")))
      .withColumn("dev_e10", intDivExact(
        (col("sum_d") * col("n_tot") - col("tot_d") * col("n")) * e10,
        col("n") * col("n_tot")))
      .select(col("priority"), col("n"),
        col("sum_d").cast("long").as("sum_cents"),
        col("avg_e10"), col("dev_e10"))
      .orderBy("priority")
  }

  /** Right-to-be-forgotten cascade audit: given a deletion request set
    * (customers with negative balances stand in for it), the exact purge
    * impact across the FK cascade — customer → orders → lineitem —
    * BEFORE any delete runs. One pass per table: the deletion flag rides
    * a left join against the PK side (row-count preserving; the request
    * set broadcast — even a 10⁸-row request list is the small side next
    * to a 100 TB fact) and the depth-2 cascade reuses the flagged orders
    * keys. The three (table, rows, purged) rows are the audit a
    * compliance pipeline logs per request batch. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val del = cust.filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("__dk"))
    val c = cust.agg(count(lit(1)).as("n_rows"),
        sum((col("c_acctbal") < 0).cast("long")).cast("long")
          .as("n_purged"))
      .select(lit("customer").as("tbl"), col("n_rows"), col("n_purged"))
    val ordFlag = Tables.load(s, dir, "orders")
      .join(broadcast(del.withColumn("__del", lit(1L))),
        col("o_custkey") === col("__dk"), "left")
      .select(col("o_orderkey"), coalesce(col("__del"), lit(0L)).as("__del"))
    val o = ordFlag.agg(count(lit(1)).as("n_rows"),
        sum("__del").cast("long").as("n_purged"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("n_purged"))
    val l = Tables.load(s, dir, "lineitem")
      .join(ordFlag, col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("__del"), lit(0L))).cast("long").as("n_purged"))
      .select(lit("lineitem").as("tbl"), col("n_rows"), col("n_purged"))
    c.unionByName(o).unionByName(l).orderBy("tbl")
  }

  /** l-diversity census — k-anonymity's (q136) necessary complement: a QI
    * group can be large (k-anonymous) yet still leak if every member
    * shares one sensitive value, so each (order status, priority, month)
    * group is audited for the DIVERSITY of its customer population, not
    * just its size. `l` here is distinct-customer count per group
    * (distinct l-diversity); groups with l < 3 would let an attacker who
    * locates a target's group narrow them to <3 candidates. One
    * two-phase aggregation (distinct on QI+sensitive collapses first, so
    * the distinct count is a plain count — the exact-distinct shape that
    * map-side combines); integer-only output. */
  private def q190(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        month(col("o_orderdate")).cast("long").as("mon"),
        col("o_custkey"))
      .groupBy("status", "priority", "mon")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("l_distinct"))
      .withColumn("diverse", (col("l_distinct") >= 3).cast("long"))
      .orderBy("status", "priority", "mon")

  /** Encoding-damage census per source — the UTF-8 hygiene gate
    * ([[graft.functions.EncodingDamage]]: stray control characters,
    * U+FFFD decoder tombstones, Latin-1-decoded-UTF-8 mojibake bigrams)
    * run as one map-side regex-count pass + one 20-row rollup. The Spark
    * side and the DuckDB oracle execute the IDENTICAL pattern text
    * (common Java-regex/RE2 syntax, interpolated from one constant), so
    * the check proves the pattern semantics, not just the plumbing; this
    * synthetic corpus is clean ASCII, so every count is a pinned zero
    * here and EncodingDamageSpec drives the damaged-fixture paths. At
    * 100 TB: a pure projection over the scan (regexp_count is a codegen'd
    * expression) feeding a tiny keyed aggregate — no shuffle carries
    * document text. */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.EncodingDamage._
    Tables.load(s, dir, "documents")
      .select(col("source"),
        ctrlCount(col("text")).cast("long").as("ctrl"),
        replacementCount(col("text")).cast("long").as("repl"),
        mojibakeCount(col("text")).cast("long").as("moji"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ctrl").as("n_ctrl_chars"),
        sum("repl").as("n_replacement_chars"),
        sum("moji").as("n_mojibake_seqs"),
        sum(((col("ctrl") + col("repl") + col("moji")) > 0).cast("long"))
          .as("n_damaged_docs"))
      .orderBy("source")
  }

  /** Batch-over-batch source/language mix drift — the monitoring query a
    * continuously-ingesting corpus runs between consecutive snapshots to
    * catch a crawler or filter silently changing the mixture (a language
    * collapsing, a source flooding). Batches here are the deterministic
    * doc_id parity split (standing in for consecutive crawl drops — the
    * q151 incremental convention); for every (source, lang) cell the
    * report carries both batch counts, both within-source shares on the
    * exact e6 grid (CASE-guarded against an empty batch — no silent
    * division nulls), and the absolute share drift. ONE aggregation pass
    * builds the cells; the per-source batch totals join back keyed on
    * source (a #sources-row frame — broadcast); nothing driver-side. The
    * per-source Σ drift_e6 over langs is 2·e6·total-variation distance —
    * readable straight off the result. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val cells = Tables.load(s, dir, "documents")
      .groupBy("source", "lang")
      .agg(sum((col("doc_id") % 2 === 0).cast("long")).as("n_a"),
        sum((col("doc_id") % 2 === 1).cast("long")).as("n_b"))
    val tots = cells.groupBy("source")
      .agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    def share(n: String, t: String) =
      when(col(t) === 0, lit(0L))
        .otherwise(intDivExact(
          col(n).cast("decimal(19,0)") * lit(1000000L), col(t)))
    cells.join(broadcast(tots), "source")
      .select(col("source"), col("lang"), col("n_a"), col("n_b"),
        share("n_a", "ta").as("share_a_e6"),
        share("n_b", "tb").as("share_b_e6"))
      .withColumn("drift_e6",
        abs(col("share_a_e6") - col("share_b_e6")))
      .orderBy("source", "lang")
  }

  /** t-closeness census (Li et al. 2007) — the third leg of the privacy
    * audit trio: a QI group can be k-anonymous (q136) and l-diverse
    * (q190) yet still leak if its SENSITIVE DISTRIBUTION differs sharply
    * from the corpus's. For the ordered sensitive attribute (order value
    * in $50k buckets), t is the normalized Earth-Mover's Distance
    * between the group's bucket distribution and the global one — for an
    * ordered domain EMD has the closed form
    * `Σ_i |cumG(i)/n_g − cumAll(i)/N| / (m−1)`, which this emits in
    * EXACT integer arithmetic: one common-denominator form
    * `1e6·Σ|cumG·N − cumAll·n_g| div (n_g·N·(m−1))` per group (decimal
    * chain ⇄ HUGEINT, m=1 CASE-guarded). Shapes: the global bucket
    * histogram and the (N, m) scalars are broadcast-sized; the dense
    * group×bucket lattice is QI-groups × m rows; the cumulative window
    * partitions per QI group over exactly m rows — bounded by the bucket
    * domain, never by data volume. */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.intDivExact
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        month(col("o_orderdate")).cast("long").as("mon"),
        floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
    val cell = o.groupBy("status", "priority", "mon", "bucket")
      .agg(count(lit(1)).as("n"))
    val g = o.groupBy("status", "priority", "mon")
      .agg(count(lit(1)).as("n_g"))
    val b = o.groupBy("bucket").agg(count(lit(1)).as("n_b"))
    val gl = b.agg(sum("n_b").cast("long").as("nn"),
      count(lit(1)).as("m"))
    val w = Window.partitionBy("status", "priority", "mon")
      .orderBy("bucket")
    def d14(c: org.apache.spark.sql.Column) = c.cast("decimal(14,0)")
    val dense = g.crossJoin(broadcast(b))
      .join(cell, Seq("status", "priority", "mon", "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(gl))
      .withColumn("cg", sum("n").over(w))
      .withColumn("ca", sum("n_b").over(w))
      .withColumn("diff",
        abs(d14(col("cg")) * d14(col("nn")) -
          d14(col("ca")) * d14(col("n_g"))))
    dense.groupBy("status", "priority", "mon", "n_g", "nn", "m")
      .agg(sum("diff").as("sd"))
      .select(col("status"), col("priority"), col("mon"),
        col("n_g").as("n_rows"),
        when(col("m") === 1, lit(0L))
          .otherwise(intDivExact(
            col("sd") * lit(1000000L),
            d14(col("n_g")) * d14(col("nn")) *
              d14(col("m") - 1))).as("t_closeness_e6"))
      .withColumn("tight", (col("t_closeness_e6") <= 200000L).cast("long"))
      .orderBy("status", "priority", "mon")
  }

  /** χ² independence of event_type × weekday, with Cramér's V — the
    * contingency audit a pipeline runs before treating two categoricals
    * as independent (stratified sampling, per-type seasonal baselines
    * both silently assume it). Every cell emits observed, the expected
    * count on a truncated e3 grid (⌊10³·R·C/N⌋), and its χ² term on a
    * per-term-FLOORED e6 grid (⌊10⁶·O²·N/(R·C)⌋ — the q250
    * floor-before-sum convention: summing exact rationals with
    * different denominators would need their product as a common
    * denominator, so each term floors once and both engines sum
    * identical integers). χ²_e6 = Σterm − 10⁶·N rides every row, as
    * does V² = χ²/(N·min(r−1,c−1)) on the e6 grid — V² ≈ 0 on this
    * synthetic corpus is the correct null reading. One cell aggregate +
    * two margin joins, all bounded by the category cross product. */
  private def q301(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val cells = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("weekday(to_date(ts))").cast("long").as("wd"))
      .groupBy("event_type", "wd")
      .agg(count(lit(1)).as("obs"))
    val rowM = cells.groupBy("event_type").agg(sum("obs").as("rt"))
    val colM = cells.groupBy("wd").agg(sum("obs").as("ct"))
    val n = cells.agg(sum("obs").as("nt"),
      (countDistinct("event_type") - lit(1L)).as("dr"),
      (countDistinct("wd") - lit(1L)).as("dc"))
    val termed = cells
      .join(rowM, "event_type").join(colM, "wd")
      .crossJoin(broadcast(n))
      .withColumn("exp_e3", intDivExact(
        lit(1000L) * col("rt").cast("decimal(38,0)") * col("ct"),
        col("nt")))
      .withColumn("term_e6", intDivExact(
        lit(1000000L) * col("obs").cast("decimal(38,0)") * col("obs") *
          col("nt"),
        col("rt").cast("decimal(38,0)") * col("ct")))
    val chi = termed.agg(
      (sum(col("term_e6").cast("decimal(38,0)")).cast("long") -
        lit(1000000L) * first("nt")).as("chi2_e6"),
      (first("nt") * least(first("dr"), first("dc"))).as("vden"))
    termed.crossJoin(broadcast(chi))
      .select(col("event_type"), col("wd"), col("obs"),
        col("exp_e3"), col("term_e6"), col("chi2_e6"),
        // dof guard: a single-category corpus makes min(dr,dc) = 0 —
        // agreed NULL in both engines rather than Spark-NULL/DuckDB-error
        when(col("vden") > 0L, intDivExact(col("chi2_e6"), col("vden")))
          .otherwise(lit(null).cast("long")).as("v2_e6"))
      .orderBy("event_type", "wd")
  }

  /** k-anonymity generalization ladder — the privacy-utility frontier
    * the q136 census only samples one rung of: the balance
    * quasi-identifier coarsens through five granularities ($1 → $10 →
    * $100 → $1000 → suppressed entirely), and per rung the table
    * reports distinct QI groups, the smallest group, and the exact e4
    * share of rows living in sub-k groups (k = 5) — the re-identifiable
    * residue that must be suppressed at that rung. is_chosen marks the
    * FIRST rung whose minimum group reaches k: the minimal
    * generalization a release needs, with the utility cost (group count
    * collapse) visible on the same row. Five bounded aggregations
    * unioned; bucket edges are integer floor divisions (exact,
    * engine-portable). */
  private def q320(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{cents, intDiv, intDivExact}
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        // shift to nonnegative cents so the floor-division bucketing is
        // the portable intDiv (acctbal ≥ −1000 by TPC-H spec)
        (cents(col("c_acctbal")) + lit(100000L)).as("c"))
    def rung(level: Long, width: Option[Long]): DataFrame = {
      val bucket = width.map(w => intDiv(col("c"), lit(w)))
        .getOrElse(lit(0L))
      val g = base.select(col("nation"), col("segment"),
          bucket.as("bal_bucket"))
        .groupBy("nation", "segment", "bal_bucket")
        .agg(count(lit(1)).as("n"))
      g.agg(count(lit(1)).as("n_groups"), min("n").as("min_group"),
          sum("n").as("n_rows"),
          sum(when(col("n") < 5L, col("n")).otherwise(0L)).as("sub_k"))
        .select(lit(level).as("level"), col("n_groups"), col("min_group"),
          intDivExact(col("sub_k").cast("decimal(38,0)") * lit(20000L) +
            col("n_rows"), lit(2L) * col("n_rows")).as("suppressed_e4"))
    }
    val ladder = rung(1L, Some(10000L))
      .unionByName(rung(2L, Some(100000L)))
      .unionByName(rung(3L, Some(1000000L)))
      .unionByName(rung(4L, Some(10000000L)))
      .unionByName(rung(5L, None))
    // first rung reaching k = 5: a running max of the k-verdict over the
    // 5-row ladder (bounded window) turns "first true" into "true now,
    // false before"
    val wl = Window.orderBy("level")
      .rowsBetween(Window.unboundedPreceding, -1L)
    ladder
      .withColumn("ok", (col("min_group") >= 5L).cast("long"))
      .withColumn("ok_before", coalesce(max("ok").over(wl), lit(0L)))
      .select(col("level"), col("n_groups"), col("min_group"),
        col("suppressed_e4"),
        (col("ok") === 1L && col("ok_before") === 0L).cast("long")
          .as("is_chosen"))
      .orderBy("level")
  }

  val defs: Map[String, Q] = Map(
    "q320_anonymity_ladder" -> (q320 _),
    "q301_chi2_independence" -> (q301 _),
    "q221_t_closeness" -> (q221 _),
    "q217_mix_drift" -> (q217 _),
    "q66_quality_report" -> (q66 _),
    "q193_encoding_damage" -> (q193 _),
    "q130_ref_integrity" -> (q130 _),
    "q136_k_anonymity" -> (q136 _),
    "q141_benford" -> (q141 _),
    "q144_avg_e10_exact" -> (q144 _),
    "q155_forget_cascade" -> (q155 _),
    "q190_l_diversity" -> (q190 _))

  // one SELECT per check, mirrored shapes; 'license' is a deliberately
  // missing column so the missing-column path is oracle-checked too
  val oracle: Map[String, String] = Map(
    // same shifted-cents buckets per rung, same sub-k residue shares,
    // same first-passing-rung window
    "q320_anonymity_ladder" -> {
      import graft.functions.Rounding.{centsSql, intDivSql, intDivExactSql}
      val c = centsSql("c_acctbal")
      val share = intDivExactSql(
        "CAST(sub_k AS HUGEINT) * 20000 + n_rows", "2 * n_rows")
      val arms = Seq(1L -> Some(10000L), 2L -> Some(100000L),
        3L -> Some(1000000L), 4L -> Some(10000000L), 5L -> None)
        .map { case (l, w) =>
          val bucket = w.map(x => intDivSql("c", x.toString)).getOrElse("0")
          s"""SELECT CAST($l AS BIGINT) AS level, count(*) AS n_groups,
             |    CAST(min(n) AS BIGINT) AS min_group,
             |    CAST(sum(n) AS BIGINT) AS n_rows,
             |    CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             |      AS sub_k
             |  FROM (SELECT nation, segment, $bucket AS b, count(*) AS n
             |        FROM base GROUP BY 1, 2, 3)""".stripMargin
        }.mkString("\n|  UNION ALL\n|  ")
      s"""WITH base AS (
         |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         |    $c + 100000 AS c
         |  FROM customer),
         |ladder AS (
         |  $arms),
         |v AS (
         |  SELECT level, n_groups, min_group,
         |    $share AS suppressed_e4,
         |    CASE WHEN min_group >= 5 THEN 1 ELSE 0 END AS ok
         |  FROM ladder)
         |SELECT level, n_groups, min_group, suppressed_e4,
         |  CAST(ok = 1 AND COALESCE(max(ok) OVER (ORDER BY level
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 0
         |    AS BIGINT) AS is_chosen
         |FROM v ORDER BY level""".stripMargin
    },
    // same floor-per-term e6 grid through HUGEINT; Spark weekday() ≡
    // DuckDB isodow − 1 (Monday-0), the q277/q251 convention
    "q301_chi2_independence" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS wd,
        |    count(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |rm AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt
        |       FROM cells GROUP BY 1),
        |cm AS (SELECT wd, CAST(sum(obs) AS BIGINT) AS ct
        |       FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS BIGINT) AS nt,
        |    count(DISTINCT event_type) - 1 AS dr,
        |    count(DISTINCT wd) - 1 AS dc
        |  FROM cells),
        |t AS (
        |  SELECT cells.event_type, cells.wd, CAST(obs AS BIGINT) AS obs,
        |    CAST((1000 * CAST(rt AS HUGEINT) * ct) // nt AS BIGINT)
        |      AS exp_e3,
        |    CAST((1000000 * CAST(obs AS HUGEINT) * obs * nt)
        |      // (CAST(rt AS HUGEINT) * ct) AS BIGINT) AS term_e6
        |  FROM cells JOIN rm USING (event_type) JOIN cm USING (wd), nn),
        |chi AS (
        |  SELECT CAST(sum(CAST(term_e6 AS HUGEINT)) - 1000000 *
        |      (SELECT nt FROM nn) AS BIGINT) AS chi2_e6,
        |    (SELECT nt * least(dr, dc) FROM nn) AS vden
        |  FROM t)
        |SELECT event_type, wd, obs, exp_e3, term_e6, chi2_e6,
        |  CASE WHEN vden > 0 THEN
        |    CAST(CAST(chi2_e6 AS HUGEINT) // vden AS BIGINT)
        |  ELSE NULL END AS v2_e6
        |FROM t, chi ORDER BY event_type, wd""".stripMargin,
    // same dense lattice, same cumulative-diff EMD closed form, HUGEINT
    // products mirror the engine's decimal chain
    "q221_t_closeness" -> {
      import graft.functions.Rounding.intDivExactSql
      s"""WITH o AS (
         |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         |    CAST(month(o_orderdate) AS BIGINT) AS mon,
         |    CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket
         |  FROM orders),
         |cell AS (SELECT status, priority, mon, bucket, count(*) AS n
         |         FROM o GROUP BY 1, 2, 3, 4),
         |g AS (SELECT status, priority, mon, count(*) AS n_g
         |      FROM o GROUP BY 1, 2, 3),
         |b AS (SELECT bucket, count(*) AS n_b FROM o GROUP BY 1),
         |gl AS (SELECT CAST(sum(n_b) AS BIGINT) AS nn, count(*) AS m
         |       FROM b),
         |dense AS (
         |  SELECT g.status, g.priority, g.mon, g.n_g, b.bucket, b.n_b,
         |    coalesce(cell.n, 0) AS n
         |  FROM g CROSS JOIN b
         |  LEFT JOIN cell USING (status, priority, mon, bucket)),
         |cum AS (
         |  SELECT status, priority, mon, n_g,
         |    sum(n) OVER w AS cg, sum(n_b) OVER w AS ca
         |  FROM dense
         |  WINDOW w AS (PARTITION BY status, priority, mon
         |    ORDER BY bucket)),
         |agg AS (
         |  SELECT status, priority, mon, n_g,
         |    sum(abs(CAST(cg AS HUGEINT) * nn
         |      - CAST(ca AS HUGEINT) * n_g)) AS sd
         |  FROM cum, gl GROUP BY 1, 2, 3, 4)
         |SELECT status, priority, mon, n_g AS n_rows,
         |  CASE WHEN m = 1 THEN 0 ELSE
         |    ${intDivExactSql("sd * 1000000",
              "CAST(n_g AS HUGEINT) * nn * (m - 1)")} END
         |    AS t_closeness_e6,
         |  CAST(CASE WHEN m = 1 THEN 0 ELSE
         |    ${intDivExactSql("sd * 1000000",
              "CAST(n_g AS HUGEINT) * nn * (m - 1)")} END <= 200000
         |    AS BIGINT) AS tight
         |FROM agg, gl
         |ORDER BY status, priority, mon""".stripMargin
    },
    "q217_mix_drift" -> {
      import graft.functions.Rounding.intDivExactSql
      def share(n: String, t: String) =
        s"CASE WHEN $t = 0 THEN 0 ELSE ${intDivExactSql(
          s"CAST($n AS HUGEINT) * 1000000", t)} END"
      s"""WITH cells AS (
         |  SELECT source, lang,
         |    count(*) FILTER (WHERE doc_id % 2 = 0) AS n_a,
         |    count(*) FILTER (WHERE doc_id % 2 = 1) AS n_b
         |  FROM documents GROUP BY 1, 2),
         |tots AS (
         |  SELECT source, CAST(sum(n_a) AS BIGINT) AS ta,
         |    CAST(sum(n_b) AS BIGINT) AS tb
         |  FROM cells GROUP BY 1)
         |SELECT source, lang, n_a, n_b,
         |  ${share("n_a", "ta")} AS share_a_e6,
         |  ${share("n_b", "tb")} AS share_b_e6,
         |  abs(${share("n_a", "ta")} - ${share("n_b", "tb")}) AS drift_e6
         |FROM cells JOIN tots USING (source)
         |ORDER BY source, lang""".stripMargin
    },
    "q193_encoding_damage" -> {
      import graft.functions.EncodingDamage._
      s"""WITH per AS (
         |  SELECT source,
         |    len(regexp_extract_all(text, '$CtrlPattern')) AS ctrl,
         |    len(regexp_extract_all(text, '$ReplacementPattern')) AS repl,
         |    len(regexp_extract_all(text, '$MojibakePattern')) AS moji
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ctrl) AS BIGINT) AS n_ctrl_chars,
         |  CAST(sum(repl) AS BIGINT) AS n_replacement_chars,
         |  CAST(sum(moji) AS BIGINT) AS n_mojibake_seqs,
         |  CAST(sum(CASE WHEN ctrl + repl + moji > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_damaged_docs
         |FROM per GROUP BY source ORDER BY source""".stripMargin
    },
    "q190_l_diversity" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  CAST(month(o_orderdate) AS BIGINT) AS mon,
        |  count(*) AS n_rows,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS l_distinct,
        |  CAST(count(DISTINCT o_custkey) >= 3 AS BIGINT) AS diverse
        |FROM orders
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q155_forget_cascade" ->
      """WITH del AS (
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        |del_orders AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del))
        |SELECT 'customer' AS tbl, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purged
        |FROM customer
        |UNION ALL
        |SELECT 'orders', count(*),
        |  CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', count(*),
        |  CAST(sum(CASE WHEN l_orderkey IN
        |      (SELECT o_orderkey FROM del_orders)
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |ORDER BY tbl""".stripMargin,
    "q66_quality_report" ->
      """WITH d AS (SELECT * FROM documents),
        |rep AS (
        |  SELECT 'has_column' AS "check", 'doc_id' AS col,
        |    CAST(0 AS BIGINT) AS violations, CAST(1 AS BIGINT) AS total, true AS passed
        |  UNION ALL
        |  SELECT 'has_column', 'text', 0, 1, true
        |  UNION ALL
        |  SELECT 'has_column', 'license', 1, 1, false
        |  UNION ALL
        |  SELECT 'not_null', 'doc_id',
        |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM d
        |  UNION ALL
        |  SELECT 'not_null', 'text',
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM d
        |  UNION ALL
        |  SELECT 'not_null', 'lang',
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM d
        |  UNION ALL
        |  SELECT 'in_range', 'n_chars',
        |    CAST(sum(CASE WHEN n_chars IS NOT NULL
        |      AND (n_chars < 1.0 OR n_chars > 100000.0) THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    sum(CASE WHEN n_chars IS NOT NULL
        |      AND (n_chars < 1.0 OR n_chars > 100000.0) THEN 1 ELSE 0 END) = 0
        |  FROM d
        |  UNION ALL
        |  SELECT 'unique', 'doc_id',
        |    CAST(coalesce((SELECT sum(n - 1) FROM
        |      (SELECT count(*) AS n FROM d GROUP BY doc_id) g WHERE n > 1), 0) AS BIGINT),
        |    CAST(count(*) AS BIGINT),
        |    coalesce((SELECT sum(n - 1) FROM
        |      (SELECT count(*) AS n FROM d GROUP BY doc_id) g WHERE n > 1), 0) = 0
        |  FROM d
        |  UNION ALL
        |  SELECT 'row_count', '',
        |    CASE WHEN count(*) >= 1 THEN 0 ELSE 1 END,
        |    CAST(count(*) AS BIGINT),
        |    count(*) >= 1
        |  FROM d)
        |SELECT * FROM rep ORDER BY "check", col""".stripMargin,
    "q130_ref_integrity" ->
      """SELECT * FROM (
        |  SELECT 'customer.c_nationkey->nation' AS fk_edge,
        |    (SELECT count(*) FROM customer) AS n_child,
        |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |      AS n_orphan
        |  UNION ALL
        |  SELECT 'events.user_id->customer',
        |    (SELECT count(*) FROM events),
        |    (SELECT count(*) FROM events e WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |) ORDER BY fk_edge""".stripMargin,
    "q136_k_anonymity" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  c_mktsegment AS segment,
        |  CAST(floor(CAST(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
        |    AS DOUBLE) / 100000.0) AS BIGINT) AS bal_bucket,
        |  count(*) AS n,
        |  CAST(count(*) >= 5 AS BIGINT) AS anonymous
        |FROM customer
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q141_benford" -> {
      import graft.functions.Rounding.{centsSql, intDivExactSql}
      s"""WITH v AS (
        |  SELECT ${centsSql("o_totalprice")} AS vc FROM orders),
        |d AS (
        |  SELECT CAST(substr(CAST(vc AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit
        |  FROM v WHERE vc > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |e AS (
        |  SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), CAST(301029 AS BIGINT)), (2, 176091),
        |    (3, 124938), (4, 96910), (5, 79181), (6, 66946),
        |    (7, 57991), (8, 51152), (9, 45757))
        |    AS t(digit, share_e6_expected)),
        |tot AS (SELECT sum(n) AS n_total FROM c)
        |SELECT c.digit, c.n,
        |  ${intDivExactSql("n_total * share_e6_expected", "1000000")}
        |    AS n_expected,
        |  share_e6_expected
        |FROM c JOIN e USING (digit) CROSS JOIN tot
        |ORDER BY digit""".stripMargin
    },
    "q144_avg_e10_exact" -> {
      import graft.functions.Rounding.{centsSql, intDivExactSql}
      // sum(BIGINT) is already HUGEINT in DuckDB; the e10 products are
      // widened explicitly so no factor multiplies at BIGINT width
      s"""WITH c AS (
        |  SELECT o_orderpriority AS priority,
        |    ${centsSql("o_totalprice")} AS vc FROM orders),
        |g AS (
        |  SELECT priority, count(*) AS n, sum(vc) AS sum_c
        |  FROM c GROUP BY 1),
        |t AS (SELECT sum(n) AS n_tot, sum(sum_c) AS tot_c FROM g)
        |SELECT priority, n, CAST(sum_c AS BIGINT) AS sum_cents,
        |  ${intDivExactSql(
             "CAST(sum_c AS HUGEINT) * 10000000000", "n")} AS avg_e10,
        |  ${intDivExactSql(
             "(CAST(sum_c AS HUGEINT) * n_tot - CAST(tot_c AS HUGEINT) * n)" +
               " * 10000000000",
             "CAST(n AS HUGEINT) * n_tot")} AS dev_e10
        |FROM g CROSS JOIN t
        |ORDER BY priority""".stripMargin
    })
}
