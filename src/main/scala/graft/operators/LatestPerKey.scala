package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** "Latest wins" incremental-read semantics (reference
  * `scripts/transform.py:11-24`, `scripts/stock_predictor.py:21-28`):
  * keep only rows carrying the maximum ordering tuple per key.
  *
  * Expressed as a windowed max over a struct (lexicographic tuple order) so
  * it is one shuffle on the key, no row_number sort needed, and skew-safe
  * under AQE. A public operator with no caller in the pipeline or the
  * query packs: Transform prunes raw files with a driver-side listing
  * (`Pipeline.Transform.latestRawPerSymbol`), Predict and q10 take the last
  * row per group with `max_by`, and q07 with a `row_number` window.
  */
object LatestPerKey {
  def apply(df: DataFrame, key: Column, ord: Column*): DataFrame = {
    val tag = struct(ord: _*)
    val w = Window.partitionBy(key)
    df.withColumn("__latest_tag", tag)
      .withColumn("__latest_max", max(col("__latest_tag")).over(w))
      .filter(col("__latest_tag") === col("__latest_max"))
      .drop("__latest_tag", "__latest_max")
  }
}
