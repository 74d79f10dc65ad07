package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group multi-feature ordinary least squares in closed form
  * (reference `scripts/stock_predictor.py:66-88`, SURVEY.md §2 row 38
  * option B — the 100 TB-safe decomposition).
  *
  * The normal equations (XᵀX)β = Xᵀy need only sums of feature products, so
  * fitting reduces to ONE `groupBy(group).agg(...)` over the data (partial
  * map-side combine, one shuffle of (groups × d²) doubles) followed by a
  * per-group d×d solve on the (already tiny) aggregate row — done in a
  * deterministic Scala UDF, distributed, never collected to the driver.
  * An intercept column (x₀ = 1) is always included, matching sklearn's
  * `fit_intercept=True` default at `scripts/stock_predictor.py:83`.
  */
object Ols {

  /** Gaussian elimination with partial pivoting; returns null for singular
    * systems (caller drops those groups — mirrors the reference skipping
    * degenerate groups). */
  private[operators] def solve(a: Array[Array[Double]], b: Array[Double])
      : Option[Array[Double]] = {
    val d = b.length
    val m = Array.tabulate(d, d + 1)((i, j) => if (j < d) a(i)(j) else b(i))
    for (p <- 0 until d) {
      var best = p
      for (r <- p + 1 until d) if (math.abs(m(r)(p)) > math.abs(m(best)(p))) best = r
      if (math.abs(m(best)(p)) < 1e-12) return None
      val tmp = m(p); m(p) = m(best); m(best) = tmp
      for (r <- p + 1 until d) {
        val f = m(r)(p) / m(p)(p)
        for (c <- p to d) m(r)(c) -= f * m(p)(c)
      }
    }
    val x = new Array[Double](d)
    for (i <- (d - 1) to 0 by -1) {
      var s = m(i)(d)
      for (j <- i + 1 until d) s -= m(i)(j) * x(j)
      x(i) = s / m(i)(i)
    }
    Some(x)
  }

  /** Singular-safe solve: exact Gaussian elimination first; on a singular
    * XᵀX (collinear features — e.g. a perfectly linear price ramp), retry
    * with a tiny scale-aware ridge term. sklearn's `LinearRegression` (the
    * reference, `scripts/stock_predictor.py:83`) uses lstsq's pseudo-inverse
    * there; tiny-λ ridge converges to the same min-norm fit, keeping such
    * groups predictable instead of dropping them. */
  private[operators] def solveRobust(a: Array[Array[Double]],
      b: Array[Double]): Option[Array[Double]] =
    solve(a, b).orElse {
      val d = b.length
      val trace = (0 until d).map(i => a(i)(i)).sum
      val lambda = 1e-8 * math.max(trace / d, 1.0)
      val ridged = Array.tabulate(d, d)((i, j) =>
        if (i == j) a(i)(j) + lambda else a(i)(j))
      solve(ridged, b)
    }

  /** Fit per-group OLS of `target` on `features` (+intercept).
    * Returns one row per group: (group, coef array<double>, carry…) where
    * coef(0) = intercept, coef(i) = β of features(i-1), and `carry` are
    * extra named per-group aggregates over the same rows, computed in the
    * fit's one `groupBy` (a caller's row count or last-row pick costs no
    * second pass over the data).
    * Groups whose system stays unsolvable even after the ridge fallback
    * (e.g. zero usable rows) are dropped. */
  def fit(df: DataFrame, group: String, features: Seq[String],
      target: String, carry: Seq[Column] = Nil): DataFrame = {
    val d = features.length + 1
    val xs: Seq[Column] = lit(1.0) +: features.map(f => col(f).cast("double"))
    val y = col(target).cast("double")
    // rows with ANY null feature/target must be dropped up front: per-entry
    // null-skipping in sum() would compute each XᵀX entry over a different
    // row subset (silently wrong fit), and an all-null column would turn a
    // sum NULL and crash the solve UDF.
    val clean = df.na.drop((features :+ target).distinct)
    val prods = for (i <- 0 until d; j <- i until d)
      yield sum(xs(i) * xs(j)).as(s"xtx_${i}_$j")
    val xty = (0 until d).map(i => sum(xs(i) * y).as(s"xty_$i"))
    val aggCols = prods ++ xty
    val agg = clean.groupBy(group)
      .agg(aggCols.head, (aggCols.tail ++ carry): _*)
    val carried = agg.columns.drop(1 + aggCols.size).toSeq

    val solveUdf = udf { packed: Seq[Double] =>
      val a = Array.ofDim[Double](d, d)
      var k = 0
      for (i <- 0 until d; j <- i until d) {
        a(i)(j) = packed(k); a(j)(i) = packed(k); k += 1
      }
      val b = packed.slice(k, k + d).toArray
      solveRobust(a, b).orNull
    }
    val packed = array(
      ((for (i <- 0 until d; j <- i until d) yield col(s"xtx_${i}_$j")) ++
        (0 until d).map(i => col(s"xty_$i"))): _*)
    agg.withColumn("coef", solveUdf(packed))
      .filter(col("coef").isNotNull)
      .select((col(group) +: col("coef") +: carried.map(col)): _*)
  }

  /** Column expression βᵀ[1, features…] given a `coef` array column. */
  def predictExpr(features: Seq[String]): Column =
    features.zipWithIndex.foldLeft(element_at(col("coef"), 1)) {
      case (acc, (f, i)) =>
        acc + element_at(col("coef"), i + 2) * col(f).cast("double")
    }
}
