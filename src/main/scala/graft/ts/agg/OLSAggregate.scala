package graft.ts.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Weighted OLS with intercept solved from its Gram sums (≙ the state of the
 * reference's summarizer/subtractable/OLSRegressionSummarizer.scala:66-366,
 * X'WX, X'Wy, y'Wy, Σ ln w and the count). The sums
 * themselves are plain Catalyst aggregates built by `Summarizers`
 * (`OLSRegression`, `olsState`), so they distribute through ordinary partial
 * aggregation and evaluate over windows like every other summarizer; this
 * object owns their layout and the row-free math on top: [[fit]] renders the
 * result struct, called once per group through `StaticInvoke`
 * (`GraftColumns.olsFit`). The normal equations are solved by Gaussian
 * elimination WITHOUT pivoting (deterministic op order; the Gram matrix of a
 * well-scaled design is positive definite, the reference relies on the same
 * property).
 *
 * Output struct: samples, beta array<double> (no intercept term), intercept,
 * rSquared, stdErr_beta array<double>, tStat_beta array<double>, plus the
 * reference's extended diagnostics (OLSRegressionSummarizer.scala:180-244):
 * stdErr_intercept, tStat_intercept, logLikelihood
 * (−n/2·(ln(ssr) + 1 + ln(2π/n)) + Σln(w)/2), akaikeIC (−2logL + 2k),
 * bayesIC (−2logL + k·ln n) with k = design width incl. intercept,
 * cond (λmax/λmin of X'WX), and constantsCoordinates — 0-based indices of
 * regressors with ~zero weighted variance (reported, not dropped).
 *
 * Weight semantics: rows with null fields are skipped; rows with w <= 0 are
 * included in all sums and in `samples` (reference parity). For w = 0 the
 * fit is unchanged and only the ln(w) diagnostics (logLikelihood/AIC/BIC)
 * degrade to -Inf/NaN. NEGATIVE weights are passed through to the normal
 * equations exactly as the reference does — they subtract from X'WX and can
 * make it indefinite/singular (NaN or sign-flipped coefficients); supplying
 * a meaningful non-negative weight column is the caller's contract.
 */
object OLSAggregate {

  val outSchema: StructType = StructType(Seq(
    StructField("samples", LongType),
    StructField("beta", ArrayType(DoubleType)),
    StructField("intercept", DoubleType),
    StructField("rSquared", DoubleType),
    StructField("stdErr_beta", ArrayType(DoubleType)),
    StructField("tStat_beta", ArrayType(DoubleType)),
    StructField("stdErr_intercept", DoubleType),
    StructField("tStat_intercept", DoubleType),
    StructField("logLikelihood", DoubleType),
    StructField("akaikeIC", DoubleType),
    StructField("bayesIC", DoubleType),
    StructField("cond", DoubleType),
    StructField("constantsCoordinates", ArrayType(IntegerType))))

  /**
   * The [[outSchema]] struct for `k` regressors plus intercept (design
   * g = [1, x_1..x_k], width d = k + 1) from the row count `n` and
   * `sums` = [Σ ln w, Σ w·gᵢgⱼ (i ≤ j, row-major upper triangle), Σ w·gᵢy,
   * Σ w·y², min w] — `Summarizers.olsState`'s order after its count, plus
   * the smallest weight. Spark's `log` is null for w <= 0, so Σ ln w only
   * covers positive weights; min w restores the JVM sum's −∞ (a zero
   * weight) or NaN (a negative one). Fewer than d + 1 rows render
   * `samples` and nulls.
   */
  def fit(sums: ArrayData, n: Long, k: Int): InternalRow = {
    val d = k + 1
    if (n < d + 1) {
      val out = new Array[Any](outSchema.length)
      out(0) = n
      return new GenericInternalRow(out)
    }
    val tri = d * (d + 1) / 2
    // unpack upper triangle to full symmetric matrix
    val a = new Array[Double](d * d)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = sums.getDouble(1 + idx)
        a(i * d + j) = v; a(j * d + i) = v; idx += 1; j += 1
      }
      i += 1
    }
    val xty = Array.tabulate(d)(i => sums.getDouble(1 + tri + i))
    val yy = sums.getDouble(1 + tri + d)
    val minW = sums.getDouble(2 + tri + d)
    val lw = (if (sums.isNullAt(0)) 0.0 else sums.getDouble(0)) +
      (if (minW < 0.0) Double.NaN else if (minW == 0.0) Double.NegativeInfinity else 0.0)
    val sw = a(0) // Σ w·1·1
    val beta = solve(a, xty, d)
    // SSR = y'Wy − β'X'Wy ; SST = y'Wy − (Σwy)²/Σw
    var bty = 0.0
    i = 0
    while (i < d) { bty += beta(i) * xty(i); i += 1 }
    val ssr = yy - bty
    val sst = yy - (xty(0) / sw) * xty(0)
    val r2 = 1.0 - ssr / sst
    val sigma2 = ssr / (n - d)
    val diag = invDiag(a, d)
    val stdErr = Array.tabulate(k)(j => math.sqrt(sigma2 * diag(j + 1)))
    val betas = Array.tabulate(k)(j => beta(j + 1))
    val t = Array.tabulate(k)(j => betas(j) / stdErr(j))
    val seI = math.sqrt(sigma2 * diag(0))
    // extended diagnostics (reference formulas, LinearRegressionModel.scala:473-515)
    val logL = -0.5 * n * (math.log(ssr) + 1.0 + math.log(2.0 * math.Pi / n)) +
      0.5 * lw
    val aic = -2.0 * logL + 2.0 * d
    val bic = -2.0 * logL + d * math.log(n.toDouble)
    val eig = symEigenvalues(a, d)
    // regressor j is constant when its weighted variance ~ 0; Σ w·xⱼ is
    // the Gram entry (0, j + 1)
    val consts = (0 until k).filter { j =>
      val m = a(j + 1) / sw
      math.abs(a((j + 1) * d + j + 1) / sw - m * m) < 1e-12
    }.toArray
    new GenericInternalRow(Array[Any](n, new GenericArrayData(betas), beta(0), r2,
      new GenericArrayData(stdErr), new GenericArrayData(t), seI, beta(0) / seI,
      logL, aic, bic, eig.max / eig.min, new GenericArrayData(consts)))
  }

  /** Eigenvalues of a symmetric d×d matrix (row-major) via cyclic Jacobi
    * rotations — d is the design width (tiny), so O(d³) per sweep is noise.
    * Used for the Gram-matrix condition number. */
  private[agg] def symEigenvalues(a0: Array[Double], d: Int): Array[Double] = {
    val a = a0.clone()
    var sweep = 0
    var rotating = true
    while (rotating && sweep < 64) {
      rotating = false
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p * d + q)
          val scale = math.abs(a(p * d + p)) + math.abs(a(q * d + q))
          if (math.abs(apq) > 1e-15 * scale && apq != 0.0) {
            rotating = true
            val theta = (a(q * d + q) - a(p * d + p)) / (2.0 * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
                case v => v
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i * d + p); val aiq = a(i * d + q)
              a(i * d + p) = c * aip - s * aiq
              a(i * d + q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p * d + i); val aqi = a(q * d + i)
              a(p * d + i) = c * api - s * aqi
              a(q * d + i) = s * api + c * aqi
              i += 1
            }
            a(p * d + q) = 0.0; a(q * d + p) = 0.0
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    Array.tabulate(d)(i => a(i * d + i))
  }

  /** Solve A x = b in place (A (d x d) row-major, no pivoting). */
  private[agg] def solve(a: Array[Double], b: Array[Double], d: Int): Array[Double] = {
    val m = a.clone(); val y = b.clone()
    var i = 0
    while (i < d) {
      var r = i + 1
      while (r < d) {
        val f = m(r * d + i) / m(i * d + i)
        var c2 = i
        while (c2 < d) { m(r * d + c2) -= f * m(i * d + c2); c2 += 1 }
        y(r) -= f * y(i)
        r += 1
      }
      i += 1
    }
    val x = new Array[Double](d)
    i = d - 1
    while (i >= 0) {
      var s = y(i)
      var c2 = i + 1
      while (c2 < d) { s -= m(i * d + c2) * x(c2); c2 += 1 }
      x(i) = s / m(i * d + i)
      i -= 1
    }
    x
  }

  /** Invert A via solves against unit vectors (for stderr diagonal). */
  private[agg] def invDiag(a: Array[Double], d: Int): Array[Double] = {
    val out = new Array[Double](d)
    var j = 0
    while (j < d) {
      val e = new Array[Double](d); e(j) = 1.0
      out(j) = solve(a, e, d)(j)
      j += 1
    }
    out
  }
}

