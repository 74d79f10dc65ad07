package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Schema normalization — the reference's fuzzy, runtime-discovered schema
  * contract (`scripts/transform.py:44-64`, `scripts/stock_predictor.py:42-64`)
  * as one deterministic `DataFrame => DataFrame`.
  *
  * Semantics pinned from the reference (SURVEY.md §1.3, §7 "hard/risky"):
  *  - the datetime column is the FIRST (column order) whose lowercase name
  *    contains "datetime" (`transform.py:44`);
  *  - any column whose lowercase name contains open/high/low/close/volume is
  *    renamed to canonical `Open/High/Low/Close/Volume`; when several
  *    columns match one metric the LAST in column order wins (dict-overwrite
  *    tie-break, `transform.py:55`);
  *  - unparseable datetimes become null, not errors (`strict=False`,
  *    `transform.py:47`); tz-offset-suffixed strings (reference defect 6)
  *    parse correctly via the offset format falling back to the plain one;
  *  - a `symbol` literal is added only if absent (`transform.py:59-60`);
  *  - the output keeps exactly the canonical columns present
  *    (`transform.py:63-64`).
  *
  * All name logic runs driver-side over `df.columns` (names, not data — no
  * shuffle, no action); the data path is one `select` over the input.
  */
object Normalize {

  val metrics: Seq[String] = Seq("open", "high", "low", "close", "volume")
  val canonicalOrder: Seq[String] =
    Seq("Datetime", "Open", "High", "Low", "Close", "Volume", "symbol")

  def canonicalName(metric: String): String = metric.capitalize

  /** original-column → canonical-metric renames, last-match-wins both ways:
    * a column matching several metrics takes the last metric; several
    * columns matching one metric keep the last column. */
  def renameMap(cols: Seq[String]): Map[String, String] = {
    val colToMetric = scala.collection.mutable.LinkedHashMap[String, String]()
    for (c <- cols; m <- metrics if c.toLowerCase.contains(m))
      colToMetric(c) = canonicalName(m)
    colToMetric.toSeq.groupBy(_._2).map { case (canon, pairs) =>
      pairs.last._1 -> canon
    }
  }

  /** Null-on-failure timestamp parse; accepts the reference's two observed
    * shapes: "yyyy-MM-dd HH:mm:ss±hh:mm" (defect-6 tz-suffixed) and plain
    * "yyyy-MM-dd HH:mm:ss". */
  def parseTimestamp(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ssXXX")),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")))

  /** Full normalization to the canonical inter-stage schema:
    * Datetime timestamp, Open/High/Low/Close double, Volume long, symbol.
    * One `select` derived from the input's column names: a metric's
    * losing columns are simply not selected, so a loser already named
    * canonically (e.g. "Close" losing to "Adj Close") cannot collide. */
  def apply(df: DataFrame, symbol: Option[String] = None): DataFrame = {
    def ref(c: String) = col(QuotingUtils.quoteIdentifier(c))
    val datetime = df.columns.find(_.toLowerCase.contains("datetime")).map {
      case c if df.schema(c).dataType == TimestampType => ref(c)
      case c => parseTimestamp(ref(c))
    }
    val typed = renameMap(df.columns.toSeq).map { case (orig, canon) =>
      canon -> ref(orig).cast(if (canon == "Volume") "long" else "double")
    }
    val sym =
      if (df.columns.contains("symbol")) Some(col("symbol"))
      else symbol.map(lit)
    val out = typed ++ datetime.map("Datetime" -> _) ++ sym.map("symbol" -> _)
    df.select(canonicalOrder.flatMap(c => out.get(c).map(_.as(c))): _*)
  }
}
