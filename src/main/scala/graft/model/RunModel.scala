package graft.model

import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fitted no-intercept OLS — the distributed re-expression of the
  * reference's `run_model` (`/root/reference/src/tasks.py:561–580`):
  * `sm.OLS(y, X)` with NO constant added, where the regressor set is every
  * column ≠ y whose name CONTAINS any requested exog name as a substring
  * (tasks.py:576–577 — intended to pick up `cat_A`-style dummy expansions;
  * the `x1` ⊇ `x12` quirk is preserved).
  *
  * Implementation: exact normal equations. ONE aggregate job computes the
  * Gram matrix X'X, the moment vector X'y, y'y and n (k(k+3)/2 + 2 sums —
  * all map-side partial-aggregated, no shuffle of rows, O(k²) driver
  * state); the k×k solve, standard errors σ²(X'X)⁻¹ and Student-t 95% CIs
  * are O(k³) driver-side. This is deterministic and scale-free: the single
  * pass holds at any row count (SURVEY.md §2 A18).
  */
final case class RegressionResult(
    regressors: Seq[String],
    coef: Array[Double],
    stderr: Array[Double],
    tstat: Array[Double],
    ciLower: Array[Double],
    ciUpper: Array[Double],
    n: Long,
    df: Long) {

  def summaryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    regressors.indices
      .map(i => (regressors(i), coef(i), stderr(i), tstat(i), ciLower(i), ciUpper(i)))
      .toDF("regressor", "coef", "stderr", "tstat", "ci_lower", "ci_upper")
  }
}

object RunModel {

  /** Substring-match regressor selection (tasks.py:576–577). */
  def selectRegressors(allCols: Seq[String], endog: String, exog: Seq[String]): Seq[String] =
    allCols.filter(c => c != endog && exog.exists(x => c.contains(x)))

  private[graft] final case class GramFit(
      beta: Array[Double],
      sigma2: Double,
      n: Long,
      xtxInv: Array[Array[Double]])

  /** One-pass normal-equations fit used by both `run_model` and the MICE
    * column models: ONE aggregate computes X'X (upper triangle), X'y, y'y,
    * n; the k×k solve happens driver-side. `ridge` adds ε to the diagonal
    * for near-collinear MICE designs (0 for exact `run_model` parity).
    */
  private[graft] def gramFit(
      df: DataFrame,
      y: Column,
      xs: Seq[Column],
      ridge: Double = 0.0): GramFit = {
    val k = xs.size
    // listwise-complete rows only: per-term null-skipping sums paired with a
    // full count(y) would yield an inconsistent Gram matrix / wrong dof on
    // frames with partial nulls (constant predictors fold away harmlessly)
    val complete = df.where(xs.foldLeft(y.isNotNull)(_ && _.isNotNull))
    val aggs: Seq[Column] =
      (for { i <- 0 until k; j <- i until k }
        yield sum(xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
        (0 until k).map(i => sum(xs(i) * y).as(s"xy_$i")) ++
        Seq(sum(y * y).as("yy"), count(y).as("n"))
    val row = graft.core.Jobs.collectFast(complete.agg(aggs.head, aggs.tail: _*))(0)
    val xtx = Array.tabulate(k, k) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      row.getAs[Double](s"xx_${a}_$b") + (if (i == j) ridge else 0.0)
    }
    val xty    = Array.tabulate(k)(i => row.getAs[Double](s"xy_$i"))
    val yy     = row.getAs[Double]("yy")
    val n      = row.getAs[Long]("n")
    val xtxInv = invertSpd(xtx)
    val beta   = Array.tabulate(k)(i => (0 until k).map(j => xtxInv(i)(j) * xty(j)).sum)
    val dof    = math.max(1L, n - k)
    val rss    = math.max(0.0, yy - (0 until k).map(i => beta(i) * xty(i)).sum)
    GramFit(beta, rss / dof, n, xtxInv)
  }

  /** Batched form of [[gramFit]]: ONE aggregate job computes the Gram
    * statistics for EVERY (y, xs, include-condition) spec at once via
    * conditional sums — the Jacobi-MICE sweep fits all target columns in a
    * single pass instead of one job per target. Null-handling matches
    * [[gramFit]]: a row contributes to a spec only when its condition
    * holds and y and every x are non-null.
    */
  private[graft] def gramFitBatch(
      df: DataFrame,
      specs: Seq[(String, Column, Seq[Column], Column)],
      ridge: Double = 0.0): Map[String, GramFit] = {
    val aggs: Seq[Column] = specs.flatMap { case (nm, y, xs, include) =>
      val k    = xs.size
      val cond = xs.foldLeft(include && y.isNotNull)(_ && _.isNotNull)
      (for { i <- 0 until k; j <- i until k }
        yield sum(when(cond, xs(i) * xs(j))).as(s"${nm}__xx_${i}_$j")) ++
        (0 until k).map(i => sum(when(cond, xs(i) * y)).as(s"${nm}__xy_$i")) ++
        Seq(
          sum(when(cond, y * y)).as(s"${nm}__yy"),
          count(when(cond, lit(1))).as(s"${nm}__n"))
    }
    val row = graft.core.Jobs.collectFast(df.agg(aggs.head, aggs.tail: _*))(0)
    specs.map { case (nm, _, xs, _) =>
      val k = xs.size
      val xtx = Array.tabulate(k, k) { (i, j) =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        row.getAs[Double](s"${nm}__xx_${a}_$b") + (if (i == j) ridge else 0.0)
      }
      val xty    = Array.tabulate(k)(i => row.getAs[Double](s"${nm}__xy_$i"))
      val yy     = row.getAs[Double](s"${nm}__yy")
      val n      = row.getAs[Long](s"${nm}__n")
      val xtxInv = invertSpd(xtx)
      val beta   = Array.tabulate(k)(i => (0 until k).map(j => xtxInv(i)(j) * xty(j)).sum)
      val dof    = math.max(1L, n - k)
      val rss    = math.max(0.0, yy - (0 until k).map(i => beta(i) * xty(i)).sum)
      nm -> GramFit(beta, rss / dof, n, xtxInv)
    }.toMap
  }

  def apply(df: DataFrame, endog: String, exog: Seq[String], alpha: Double = 0.05): RegressionResult = {
    val xs = selectRegressors(df.columns.toIndexedSeq, endog, exog)
    require(xs.nonEmpty, s"run_model: no regressors match $exog")
    val k = xs.size

    def d(c: String): Column = graft.core.Cols.q(c).cast(DoubleType)
    val fit = gramFit(df, d(endog), xs.map(d))
    require(
      fit.n > k,
      s"run_model: need more rows than regressors (n=${fit.n}, k=$k)")

    val dof = fit.n - k
    val se  = Array.tabulate(k)(i => math.sqrt(fit.sigma2 * fit.xtxInv(i)(i)))
    val t   = Array.tabulate(k)(i => fit.beta(i) / se(i))

    val tq = new TDistribution(dof.toDouble).inverseCumulativeProbability(1.0 - alpha / 2.0)
    val lo = Array.tabulate(k)(i => fit.beta(i) - tq * se(i))
    val hi = Array.tabulate(k)(i => fit.beta(i) + tq * se(i))

    RegressionResult(xs, fit.beta, se, t, lo, hi, fit.n, dof)
  }

  /** Gauss-Jordan inverse with partial pivoting (k is tiny — driver-side). */
  private[graft] def invertSpd(m: Array[Array[Double]]): Array[Array[Double]] = {
    val k   = m.length
    val a   = Array.tabulate(k, 2 * k)((i, j) => if (j < k) m(i)(j) else if (j - k == i) 1.0 else 0.0)
    for (colI <- 0 until k) {
      val pivot = (colI until k).maxBy(r => math.abs(a(r)(colI)))
      require(math.abs(a(pivot)(colI)) > 1e-12, "run_model: X'X is singular")
      val tmp = a(colI); a(colI) = a(pivot); a(pivot) = tmp
      val pv  = a(colI)(colI)
      for (j <- 0 until 2 * k) a(colI)(j) /= pv
      for (r <- 0 until k if r != colI) {
        val f = a(r)(colI)
        if (f != 0.0) for (j <- 0 until 2 * k) a(r)(j) -= f * a(colI)(j)
      }
    }
    Array.tabulate(k, k)((i, j) => a(i)(j + k))
  }
}
