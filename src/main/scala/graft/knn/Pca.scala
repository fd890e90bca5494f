package graft.knn

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One-pass exact-integer Gram/covariance moments over an embedding
  * column, and the driver-side PCA they feed — the whitening /
  * dimensionality-reduction front end a 100 TB embedding corpus needs
  * before ANN indexing (PCA-rotated vectors make PQ subspaces
  * independent; see Jégou et al., "Product quantization for nearest
  * neighbor search", TPAMI 2011 §V.D "PCA rotation").
  *
  * Exactness contract (the [[RandomProjection]] discipline): components
  * are quantized to integer MILLI-units (round(x·1e3), half away from
  * zero), so every moment — n, per-dim sums s_i, upper-triangle Gram
  * sums G_ij = Σ q_i·q_j — is an exact integer SUM with no float
  * accumulation order to pin; the DuckDB oracle replays the identical
  * moments from the same quantization.
  *
  * Physical shape: a single typed [[Aggregator]] whose buffer is ONE
  * long array of length 1 + d + d(d+1)/2 ([n | s | upper-tri G]) —
  * map-side combined, so each partition ships one ≤ ~17 KiB row (d=64)
  * into the final merge regardless of input size. This is the KMV tier
  * of the extension ladder ([[graft.util.Kmv]]): no builtin aggregate
  * carries a d²-shaped state through one pass (d(d+1)/2 separate SUM
  * columns blow past practical codegen limits at d ≥ 64, and a
  * posexplode² self-join shuffles d² rows PER INPUT ROW).
  *
  * Overflow envelope, ENFORCED loudly: per-row products are ≤ qmax²
  * and the running sums use Math.addExact, so an overflow THROWS
  * instead of wrapping. With unit-scale embeddings (qmax ≈ 5·10³) the
  * envelope is n ≲ 3·10¹¹ rows; rescale the quantization down for
  * wider-range inputs. Cost per row is O(d²) multiply-adds — for
  * d ≥ 256 project first ([[RandomProjection]]) or sample; the Gram of
  * a JL projection preserves the spectrum to (1±ε).
  */
object Pca {

  /** Quantize scale: milli-units. Chosen so n·qmax² stays far under
    * Long.Max for realistic corpus sizes (see envelope above);
    * [[RandomProjection.quantized]]'s 1e6 would cap n at ~3·10⁵. */
  val QuantScale = 1e3

  /** Moments buffer aggregator: [n, s_0..s_{d-1}, G_00, G_01, .., G_0(d-1), G_11, ..]
    * (row-major upper triangle). addExact everywhere — overflow is loud. */
  final class GramAgg(d: Int) extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    private val len = 1 + d + d * (d + 1) / 2
    override def zero: Array[Long] = new Array[Long](len)

    override def reduce(b: Array[Long], v: Array[Long]): Array[Long] = {
      if (v == null) return b
      require(v.length == d,
        s"gram: ragged embedding column (expected length $d, got ${v.length})")
      b(0) = Math.addExact(b(0), 1L)
      var i = 0
      var t = 1 + d
      while (i < d) {
        b(1 + i) = Math.addExact(b(1 + i), v(i))
        var j = i
        while (j < d) {
          b(t) = Math.addExact(b(t), Math.multiplyExact(v(i), v(j)))
          j += 1; t += 1
        }
        i += 1
      }
      b
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < len) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
      b1
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Integer milli-unit quantization (round half away from zero) —
    * the [[RandomProjection.quantized]] recipe at the Gram scale. */
  private[graft] def quantizedMilli(embCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.transform(embCol, x => {
      val v = x.cast("double") * lit(QuantScale)
      when(v >= 0, v + lit(0.5)).otherwise(v - lit(0.5)).cast("long")
    })

  /** Tidy exact moments: one row per unordered dim pair (i ≤ j) with
    * (i, j, n, sum_i, sum_j, gram) — everything an engine needs to
    * form the covariance (n·G_ij − s_i·s_j)/n². One aggregation, one
    * ≤ len-long state per partition; NULL embeddings are dropped
    * (listwise, the [[graft.util.Profile.corrMatrix]] discipline). */
  def gram(emb: DataFrame, embCol: String = "embedding"): DataFrame = {
    val d = probeDim(emb, embCol)
    val agg = udaf(new GramAgg(d),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    val one = emb.filter(col(embCol).isNotNull)
      .select(quantizedMilli(col(embCol)).as("q"))
      .agg(agg(col("q")).as("m"))
    // unpack [n | s | G-upper] into (i, j, n, sum_i, sum_j, gram) rows
    // by exploding ONE literal (i, j, t) pair index against the buffer
    // row — pure projection, no second pass. The index must stay a
    // single literal: d(d+1)/2 per-pair struct expressions generate a
    // class whose Janino compile alone exhausts a 10g heap at d = 64.
    val pairs = (for { i <- 0 until d; j <- i until d } yield (i, j))
      .zipWithIndex.map { case ((i, j), t) => (i, j, t) }
    // a fully-empty input yields a zero buffer: keep the d(d+1)/2 rows
    // with n = 0 — the oracle's cross-join shape mirrors this
    one.select(col("m"), explode(typedLit(pairs)).as("p"))
      .select(col("p._1").as("i"), col("p._2").as("j"),
        element_at(col("m"), 1).as("n"),
        element_at(col("m"), col("p._1") + 2).as("sum_i"),
        element_at(col("m"), col("p._2") + 2).as("sum_j"),
        element_at(col("m"), col("p._3") + (2 + d)).as("gram"))
  }

  /** Probe the embedding width off one row (loud on empty input). */
  private def probeDim(emb: DataFrame, embCol: String): Int = {
    val first = emb.filter(col(embCol).isNotNull)
      .select(size(col(embCol))).limit(1).collect()
    require(first.nonEmpty, "pca: empty input")
    val d = first(0).getInt(0)
    require(d > 0 && d <= 1024, s"pca: embedding width in [1, 1024], got $d")
    d
  }

  /** Fitted rotation: top-k eigenpairs of the covariance of the
    * quantized embeddings (eigenvalues in quantized units², descending;
    * each eigenvector unit-norm with its largest-|component| entry
    * positive, so the basis is deterministic). */
  final case class PcaModel(d: Int, n: Long, mean: Array[Double],
                            eigenvalues: Array[Double],
                            components: Array[Array[Double]]) {
    require(eigenvalues.length == components.length)
    def k: Int = eigenvalues.length
  }

  /** Fit PCA from the one-pass moments: collect the O(d²) Gram rows
    * (bounded — never the data), form the covariance on the driver,
    * and diagonalize with cyclic Jacobi (deterministic sweep order,
    * fixed tolerance — no randomized initialization to pin). */
  def fit(emb: DataFrame, k: Int, embCol: String = "embedding"): PcaModel = {
    val rows = gram(emb, embCol).collect()
    require(rows.nonEmpty, "pca: empty moments")
    val d = rows.iterator.map(_.getInt(1)).max + 1
    require(k >= 1 && k <= d, s"pca: k in [1, $d], got $k")
    val n = rows(0).getLong(2)
    require(n >= 2, s"pca: need at least 2 rows, got $n")
    val s = new Array[Double](d)
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val si = r.getLong(3); val sj = r.getLong(4); val g = r.getLong(5)
      s(i) = si.toDouble; s(j) = sj.toDouble
      // covariance of the QUANTIZED integers: exact integer numerator,
      // one double division — (n·G − s_i·s_j) / n²
      val c = (n.toDouble * g.toDouble - si.toDouble * sj.toDouble) / (n.toDouble * n)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => (-evals(i), i)).take(k)
    val comps = order.map { idx =>
      val v = evecs.map(_(idx))
      // sign convention: largest-|component| entry positive (first on tie)
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(-_) else v
    }.toArray
    PcaModel(d, n, s.map(_ / n), order.map(evals).toArray, comps)
  }

  /** Project the embedding column onto the fitted basis: map-only, the
    * k·d rotation baked into the plan as literals (the
    * [[RandomProjection.projectVec]] shape — zero exchanges); scores
    * are centered dot products in quantized units. */
  def transform(emb: DataFrame, model: PcaModel,
                embCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    val q = quantizedMilli(col(embCol))
    val scores = model.components.map { w =>
      (0 until model.d).map { i =>
        (element_at(col("__q"), i + 1).cast("double") - lit(model.mean(i))) * lit(w(i))
      }.reduce(_ + _)
    }
    emb.select(col(idCol), q.as("__q"))
      .select(col(idCol), array(scores: _*).as("scores"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed (p,q) sweep order, fixed convergence
    * threshold), O(d³) per sweep on a d ≤ 1024 driver-side matrix.
    * Returns (eigenvalues, eigenvector-columns). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                                 maxSweeps: Int = 100): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    val scale = math.max(a0.indices.map(i => math.abs(a0(i)(i))).max, 1e-300)
    var sweep = 0
    while (sweep < maxSweeps && math.sqrt(off()) > 1e-12 * scale * d) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // sign(0) must be +1: theta = 0 (equal diagonal) needs the
            // full 45° rotation, not a no-op — math.signum(0) = 0 would
            // silently skip exactly the symmetric-pair case
            val sgn = if (theta >= 0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
