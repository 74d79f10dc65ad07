package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions._

/** Declarative data-quality gate (SURVEY §5: the reference installs
  * great_expectations and never calls it — this is the working equivalent,
  * reference `docker-compose.yml:32`).
  *
  * Design for 100 TB: every check compiles to a (violations, total) pair
  * of columns inside a SINGLE global aggregation over the data — adding
  * checks adds agg expressions, never extra scans or jobs (Spark computes
  * partials map-side and merges 32-ish tiny rows; `Unique` adds the
  * distinct-key exchange of its `count_distinct`). Schema checks are
  * decided from the column names and enter that aggregate as literals.
  * The report is a lazy DataFrame: building it runs nothing, so it can be
  * persisted next to the data it describes, and gates compose with
  * `require`.
  */
object DataQuality {

  sealed trait Check { def name: String; def column: String }
  /** Column must exist (plan-time). */
  case class HasColumn(column: String) extends Check { val name = "has_column" }
  /** No nulls in `column`. */
  case class NotNull(column: String) extends Check { val name = "not_null" }
  /** All non-null values within [lo, hi]. */
  case class InRange(column: String, lo: Double, hi: Double) extends Check {
    val name = "in_range"
  }
  /** Row count within [min, max] (max = Long.MaxValue for "at least"). */
  case class RowCount(min: Long, max: Long = Long.MaxValue) extends Check {
    val name = "row_count"; val column = ""
  }
  /** `column` values are unique (no duplicate keys). */
  case class Unique(column: String) extends Check { val name = "unique" }

  /** Evaluate all checks; returns
    * (check, col, violations, total, passed) — one row per check, ordered
    * by (check, col) for determinism. Lazy: building the report runs no
    * job. Each check is a (violations, total) pair in ONE global `agg`,
    * unpivoted by `stack`; schema checks, and checks on absent columns
    * (which FAIL as missing rather than crash the agg), are literal pairs
    * in that same aggregate. */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "report at least one check")
    val present = df.columns.toSet
    val n = count(lit(1))
    def ref(c: String) = col(QuotingUtils.quoteIdentifier(c))
    val pairs: Seq[(Column, Column)] = checks.map {
      case HasColumn(c) => (lit(if (present(c)) 0L else 1L), lit(1L))
      case ck if ck.column.nonEmpty && !present(ck.column) =>
        (lit(1L), lit(1L))
      case NotNull(c) => (n - count(ref(c)), n)
      case InRange(c, lo, hi) =>
        (count(when(ref(c) < lo || ref(c) > hi, lit(1))), n)
      case RowCount(min, max) =>
        (when(n.between(min, max), lit(0L)).otherwise(lit(1L)), n)
      // Σ(n−1) over each key's rows, nulls grouping as one key
      case Unique(c) =>
        (n - count_distinct(ref(c)) -
          when(n > count(ref(c)), lit(1L)).otherwise(lit(0L)), n)
    }
    val aggs = pairs.zipWithIndex.flatMap { case ((v, t), i) =>
      Seq(v.as(s"v$i"), t.as(s"t$i"))
    }
    val rows = checks.zipWithIndex.flatMap { case (ck, i) =>
      Seq(lit(ck.name), lit(ck.column), col(s"v$i"), col(s"t$i"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(stack(lit(checks.size) +: rows: _*)
        .as(Seq("check", "col", "violations", "total")))
      .withColumn("passed", col("violations") === 0L)
      .orderBy("check", "col")
  }

  /** Gate form: throw with the offending report rows if any check fails. */
  def enforce(df: DataFrame, checks: Seq[Check], what: String): Unit = {
    val rep = report(df, checks)
    val bad = rep.filter(!col("passed")).collect()
    require(bad.isEmpty,
      s"data-quality gate failed for $what: " +
        bad.map(r => s"${r.getString(0)}(${r.getString(1)}) " +
          s"violations=${r.getLong(2)}/${r.getLong(3)}").mkString("; "))
  }

  /** The bar-data contract the pipeline's processed zone must satisfy
    * before Combine may union it (wired in Pipeline.run); names are the
    * canonical inter-stage schema (Normalize.canonicalOrder). */
  def barChecks: Seq[Check] = Seq(
    HasColumn("symbol"), HasColumn("Datetime"), HasColumn("Close"),
    NotNull("symbol"), NotNull("Datetime"),
    RowCount(min = 1))
}
