package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Implicit-feedback ALS (Hu, Koren & Volinsky 2008, "Collaborative
  * Filtering for Implicit Feedback Datasets") — [[Als]]'s solver under
  * the HKV objective ([[AlsImplicit.Confidence]]), the MF member
  * matching the reference's binarized-implicit experiment regime
  * (`framework/dataloader/preprocess/methods.py:17-26` binarize + the
  * relevance-threshold workflow in `config_files/test.yml`).
  *
  * Every observed (u, i) is a preference `p = 1(r > 0)` with
  * confidence `c = 1 + α·r`; unobserved cells are p=0 at confidence 1
  * (so an observed r=0 row — a binarized low rating — is exactly an
  * unobserved cell: c=1 contributes nothing to A and p=0 nothing to
  * b). The HKV trick makes the dense normal equations sparse-cost: for
  * user u,
  * `(YᵀY + Σ_{i∈I_u}(c_ui−1)·y_i y_iᵀ + λI) x_u = Σ_{i∈I_u} c_ui·y_i`
  * — the gram `YᵀY` is computed ONCE per half-sweep over the fixed
  * side and shared by every row, so per-row work is |I_u|, not
  * n_items. Regularization is plain λ (HKV §4), not the explicit
  * objective's weighted-λ. Rows with zero observations solve
  * `(G + λI)x = 0` → exactly the zero vector, so skipping them is the
  * math, not an approximation.
  */
class AlsImplicit(dim: Int, iters: Int, lambda: Double, val alpha: Double, seed: Long,
                  pinOrder: Boolean = false)
    extends Als(dim, iters, lambda, seed, pinOrder, AlsImplicit.Confidence(alpha)) {
  require(lambda > 0, s"als_implicit: lambda must be > 0 (got $lambda)")
}

object AlsImplicit {

  /** The HKV objective at confidence slope `alpha`. */
  final case class Confidence(alpha: Double) extends Als.Objective {
    def accumulate(d: Int, v: Array[Float], r: Double,
                   aTri: Array[Double], b: Array[Double]): Unit =
      AlsImplicit.accumulate(d, v, 1.0 + alpha * r, if (r > 0) 1.0 else 0.0, aTri, b)
    def withGram: Boolean = true
    def ridge(lambda: Double, n: Long): Double = lambda
  }

  /** Add one observation at confidence c, preference p to a row's HKV
    * normal equations: upper-triangle `A += (c−1)·v vᵀ` (the gram
    * supplies the missing `+1·v vᵀ` plus every UNobserved cell) and
    * `b += c·p·v`. HKV §4: p = 1(r > 0) — an observed r=0 row (e.g. a
    * binarized low rating) carries preference 0, and with c=1 it is a
    * complete no-op, exactly like an unobserved cell. */
  private[model] def accumulate(d: Int, v: Array[Float], c: Double, p: Double,
                                aTri: Array[Double], b: Array[Double]): Unit = {
    val w = c - 1.0
    val cp = c * p
    var idx = 0; var i = 0
    while (i < d) {
      val vi = v(i)
      val wv = w * vi
      var j = i
      while (j < d) { aTri(idx) += wv * v(j); idx += 1; j += 1 }
      b(i) += cp * vi
      i += 1
    }
  }

  /** Implicit-ALS recommendations: `recs` of an [[AlsImplicit]]. */
  def recs(spark: SparkSession, ratings: DataFrame, dim: Int, iters: Int,
           lambda: Double, alpha: Double, seed: Long, k: Int,
           pinOrder: Boolean = false): DataFrame =
    new AlsImplicit(dim, iters, lambda, alpha, seed, pinOrder).recs(spark, ratings, k)
}
