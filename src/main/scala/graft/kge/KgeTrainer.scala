package graft.kge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Distributed knowledge-graph-embedding trainer (SURVEY §2.8 M4).
  *
  * The reference trains 9 pykeen models that differ only in scoring
  * function (`framework/recommender/models/<name>/model.py`, diff-identical
  * except the pykeen model name — SURVEY §2.8). Exact pykeen/torch
  * parity is infeasible (GPU nondeterminism, Adam internals); this
  * trainer targets capability parity: the same margin-ranking training
  * objective on labeled triples with negative sampling, pluggable
  * scoring functions, and the identical recommendation path (entity
  * embeddings -> cosine kNN).
  *
  * Execution model: for a fold that collects to the driver and a model
  * within `KGraph.MaxDriverParams` floats, the parameter arrays and the
  * int-encoded triples live on the driver (`KgeTrainer.fitLocal`:
  * full-batch gradients over per-core chunks, one SGD step per epoch, no
  * Spark job); otherwise `KgeTrainer.fitDistributed` keeps parameters as
  * DataFrame rows.
  * Negative sampling and the reference's internal 95/5 triples split
  * (`transE/model.py:163-174`) are seeded-hash deterministic.
  */
object KgeModels {
  /** Per-model embedding widths: (entityFloats, relationFloats) as a
    * function of dim. Complex-valued models store re ++ im. */
  def dims(model: String, d: Int): (Int, Int) = model match {
    case "transE" | "distMult" => (d, d)
    case "transH"              => (d, 2 * d) // translation d_r ++ hyperplane normal w_r
    case "complEx"             => (2 * d, 2 * d)
    case "rotatE"              => (2 * d, d) // relation = phases
    case "transR"              => (d, d + d * d) // translation ++ row-major projection M_r
    case "transD"              => (2 * d, 2 * d) // emb ++ projection vector on both sides
    case "rescal"              => (d, d * d) // bilinear per-relation matrix
    case "tuckER"              => (d, d) // relation vector; shared core W is d^3 (extra row)
    case other                 => throw new IllegalArgumentException(s"unsupported KGE model: $other")
  }

  /** Higher is better. `fctNorm` is the reference's `scoring_fct_norm`
    * (transE/transH/transR model.py:24, pykeen default 1): the distance
    * norm of the translational models — L1 `-Σ|x|` or L2 `-√Σx²`.
    * Multiplicative/complex models ignore it, as in pykeen. */
  def score(model: String, d: Int, h: Array[Float], r: Array[Float], t: Array[Float],
            core: Array[Float] = null, fctNorm: Int = 2): Double =
    model match {
      case "transE" =>
        var s = 0.0; var i = 0
        if (fctNorm == 1) { while (i < d) { s += math.abs(h(i) + r(i) - t(i)); i += 1 }; -s }
        else { while (i < d) { val x = h(i) + r(i) - t(i); s += x * x; i += 1 }; -math.sqrt(s) }
      case "transH" =>
        var wh = 0.0; var wt = 0.0; var i = 0
        while (i < d) { wh += r(d + i) * h(i); wt += r(d + i) * t(i); i += 1 }
        var s = 0.0; i = 0
        if (fctNorm == 1) {
          while (i < d) {
            s += math.abs((h(i) - wh * r(d + i)) + r(i) - (t(i) - wt * r(d + i))); i += 1
          }
          -s
        } else {
          while (i < d) {
            val x = (h(i) - wh * r(d + i)) + r(i) - (t(i) - wt * r(d + i)); s += x * x; i += 1
          }
          -math.sqrt(s)
        }
      case "distMult" =>
        var s = 0.0; var i = 0
        while (i < d) { s += h(i) * r(i) * t(i); i += 1 }
        s
      case "complEx" =>
        var s = 0.0; var i = 0
        while (i < d) {
          val hr = h(i); val hi = h(d + i); val rr = r(i); val ri = r(d + i)
          val tr = t(i); val ti = t(d + i)
          s += hr * rr * tr + hi * ri * tr + hr * ri * ti - hi * rr * ti
          i += 1
        }
        s
      case "rotatE" =>
        var s = 0.0; var i = 0
        while (i < d) {
          val c = math.cos(r(i)); val sn = math.sin(r(i))
          val re = h(i) * c - h(d + i) * sn - t(i)
          val im = h(i) * sn + h(d + i) * c - t(d + i)
          s += re * re + im * im
          i += 1
        }
        -math.sqrt(s)
      case "transR" =>
        var s = 0.0; var i = 0
        while (i < d) {
          var ph = 0.0; var pt = 0.0; var j = 0
          while (j < d) { val m = r(d + i * d + j); ph += m * h(j); pt += m * t(j); j += 1 }
          val x = ph + r(i) - pt
          s += (if (fctNorm == 1) math.abs(x) else x * x); i += 1
        }
        if (fctNorm == 1) -s else -math.sqrt(s)
      case "transD" =>
        var hp = 0.0; var tp = 0.0; var i = 0
        while (i < d) { hp += h(d + i) * h(i); tp += t(d + i) * t(i); i += 1 }
        var s = 0.0; i = 0
        while (i < d) {
          val x = (h(i) + hp * r(d + i)) + r(i) - (t(i) + tp * r(d + i)); s += x * x; i += 1
        }
        -math.sqrt(s)
      case "rescal" =>
        var s = 0.0; var i = 0
        while (i < d) {
          var row = 0.0; var j = 0
          while (j < d) { row += r(i * d + j) * t(j); j += 1 }
          s += h(i) * row; i += 1
        }
        s
      case "tuckER" =>
        var s = 0.0; var i = 0
        while (i < d) {
          var j = 0
          while (j < d) {
            val hr = h(i) * r(j); var k = 0
            var inner = 0.0
            while (k < d) { inner += core((i * d + j) * d + k) * t(k); k += 1 }
            s += hr * inner; j += 1
          }
          i += 1
        }
        s
    }

  /** Gradient of `score` wrt (h, r, t), scaled by `g` (dLoss/dScore).
    * Accumulates into the given arrays. For the translational models the
    * per-component weight u_i = g·∂score/∂diff_i is the only place the
    * norm enters: L2 gives diff_i·(-g/√n), L1 gives -g·sign(diff_i)
    * (the subgradient at 0 is 0); every projection chain rule below is
    * expressed in u_i and is norm-agnostic. */
  def addGrad(model: String, d: Int, h: Array[Float], r: Array[Float], t: Array[Float],
              g: Double, gh: Array[Float], gr: Array[Float], gt: Array[Float],
              core: Array[Float] = null, gcore: Array[Float] = null, fctNorm: Int = 2): Unit =
    model match {
      case "transE" =>
        var n = 0.0; var i = 0
        while (i < d) { val x = h(i) + r(i) - t(i); n += x * x; i += 1 }
        val inv = if (n < 1e-12) 0.0 else -g / math.sqrt(n) // d(-sqrt(n))/dx = -x/sqrt(n)
        i = 0
        while (i < d) {
          val diff = h(i) + r(i) - t(i)
          val x = if (fctNorm == 1) -g * math.signum(diff) else diff * inv
          gh(i) += x.toFloat; gr(i) += x.toFloat; gt(i) -= x.toFloat; i += 1
        }
      case "transH" =>
        var wh = 0.0; var wt = 0.0; var n = 0.0; var i = 0
        while (i < d) { wh += r(d + i) * h(i); wt += r(d + i) * t(i); i += 1 }
        val diff = new Array[Double](d)
        i = 0
        while (i < d) {
          diff(i) = (h(i) - wh * r(d + i)) + r(i) - (t(i) - wt * r(d + i))
          n += diff(i) * diff(i); i += 1
        }
        val inv = if (n < 1e-12) 0.0 else -g / math.sqrt(n)
        def u(i: Int): Double =
          if (fctNorm == 1) -g * math.signum(diff(i)) else diff(i) * inv
        var su = 0.0 // Σ u_i · w_i — the projected-gradient coupling term
        i = 0
        while (i < d) { su += u(i) * r(d + i); i += 1 }
        i = 0
        while (i < d) {
          val ui = u(i)
          val w = r(d + i)
          gh(i) += (ui - su * w).toFloat
          gt(i) -= (ui - su * w).toFloat
          gr(i) += ui.toFloat
          gr(d + i) += (-su * (h(i) - t(i)) - (wh - wt) * ui).toFloat
          i += 1
        }
      case "distMult" =>
        var i = 0
        while (i < d) {
          gh(i) += (g * r(i) * t(i)).toFloat
          gr(i) += (g * h(i) * t(i)).toFloat
          gt(i) += (g * h(i) * r(i)).toFloat
          i += 1
        }
      case "complEx" =>
        var i = 0
        while (i < d) {
          val hr = h(i); val hi = h(d + i); val rr = r(i); val ri = r(d + i)
          val tr = t(i); val ti = t(d + i)
          gh(i) += (g * (rr * tr + ri * ti)).toFloat
          gh(d + i) += (g * (ri * tr - rr * ti)).toFloat
          gr(i) += (g * (hr * tr - hi * ti)).toFloat
          gr(d + i) += (g * (hi * tr + hr * ti)).toFloat
          gt(i) += (g * (hr * rr + hi * ri)).toFloat
          gt(d + i) += (g * (hr * ri - hi * rr)).toFloat
          i += 1
        }
      case "rotatE" =>
        var n = 0.0; var i = 0
        val res = new Array[Double](d); val ims = new Array[Double](d)
        while (i < d) {
          val c = math.cos(r(i)); val sn = math.sin(r(i))
          res(i) = h(i) * c - h(d + i) * sn - t(i)
          ims(i) = h(i) * sn + h(d + i) * c - t(d + i)
          n += res(i) * res(i) + ims(i) * ims(i); i += 1
        }
        val inv = if (n < 1e-12) 0.0 else -g / math.sqrt(n)
        i = 0
        while (i < d) {
          val c = math.cos(r(i)); val sn = math.sin(r(i))
          val dre = res(i) * inv; val dim = ims(i) * inv
          gh(i) += (dre * c + dim * sn).toFloat
          gh(d + i) += (-dre * sn + dim * c).toFloat
          gt(i) -= dre.toFloat
          gt(d + i) -= dim.toFloat
          gr(i) += (dre * (-h(i) * sn - h(d + i) * c) + dim * (h(i) * c - h(d + i) * sn)).toFloat
          i += 1
        }
      case "transR" =>
        val diff = new Array[Double](d); var n = 0.0; var i = 0
        while (i < d) {
          var ph = 0.0; var pt = 0.0; var j = 0
          while (j < d) { val m = r(d + i * d + j); ph += m * h(j); pt += m * t(j); j += 1 }
          diff(i) = ph + r(i) - pt; n += diff(i) * diff(i); i += 1
        }
        val inv = if (n < 1e-12) 0.0 else -g / math.sqrt(n)
        i = 0
        while (i < d) {
          val u = if (fctNorm == 1) -g * math.signum(diff(i)) else diff(i) * inv
          gr(i) += u.toFloat
          var j = 0
          while (j < d) {
            gh(j) += (u * r(d + i * d + j)).toFloat
            gt(j) -= (u * r(d + i * d + j)).toFloat
            gr(d + i * d + j) += (u * (h(j) - t(j))).toFloat
            j += 1
          }
          i += 1
        }
      case "transD" =>
        var hp = 0.0; var tp = 0.0; var i = 0
        while (i < d) { hp += h(d + i) * h(i); tp += t(d + i) * t(i); i += 1 }
        val diff = new Array[Double](d); var n = 0.0
        i = 0
        while (i < d) {
          diff(i) = (h(i) + hp * r(d + i)) + r(i) - (t(i) + tp * r(d + i))
          n += diff(i) * diff(i); i += 1
        }
        val inv = if (n < 1e-12) 0.0 else -g / math.sqrt(n)
        var ur = 0.0
        i = 0
        while (i < d) { ur += diff(i) * inv * r(d + i); i += 1 }
        i = 0
        while (i < d) {
          val u = diff(i) * inv
          gh(i) += (u + ur * h(d + i)).toFloat
          gh(d + i) += (ur * h(i)).toFloat
          gt(i) -= (u + ur * t(d + i)).toFloat
          gt(d + i) -= (ur * t(i)).toFloat
          gr(i) += u.toFloat
          gr(d + i) += ((hp - tp) * u).toFloat // r_p appears in both projections
          i += 1
        }
      case "rescal" =>
        var i = 0
        while (i < d) {
          var rowT = 0.0; var j = 0
          while (j < d) { rowT += r(i * d + j) * t(j); j += 1 }
          gh(i) += (g * rowT).toFloat
          i += 1
        }
        var j = 0
        while (j < d) {
          var colH = 0.0; var i2 = 0
          while (i2 < d) { colH += h(i2) * r(i2 * d + j); i2 += 1 }
          gt(j) += (g * colH).toFloat
          j += 1
        }
        i = 0
        while (i < d) {
          var j2 = 0
          while (j2 < d) { gr(i * d + j2) += (g * h(i) * t(j2)).toFloat; j2 += 1 }
          i += 1
        }
      case "tuckER" =>
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) {
            val hr = h(i) * r(j)
            var k = 0
            while (k < d) {
              val w = core((i * d + j) * d + k)
              gh(i) += (g * w * r(j) * t(k)).toFloat
              gr(j) += (g * w * h(i) * t(k)).toFloat
              gt(k) += (g * w * hr).toFloat
              if (gcore != null) gcore((i * d + j) * d + k) += (g * hr * t(k)).toFloat
              k += 1
            }
            j += 1
          }
          i += 1
        }
    }
}

class KgeTrainer(val model: String, val dim: Int, val epochs: Int, val lr: Double,
                 val margin: Double, val seed: Long, val trainFraction: Double = 0.95,
                 val fctNorm: Int = 2, val pinOrder: Boolean = false) extends Serializable {

  /** Driver-path parameter init (sequential seeded RNG — the layout the
    * q41/q67-q69 goldens pin). Protected as a TEST SEAM: the
    * driver-vs-distributed parity spec overrides this and
    * [[initTables]] with one deterministic formula so both tiers start
    * from identical parameters. */
  protected def initArrays(nEntities: Int, nRelations: Int): (Array[Array[Float]], Array[Array[Float]]) = {
    val (ed, rd) = KgeModels.dims(model, dim)
    val rng = new java.util.Random(seed)
    // translational models tolerate the classic 6/sqrt(d) uniform init;
    // multiplicative scores (3-4 factor products) need a cooler start or
    // the hinge gradients blow up
    val multiplicative = Set("distMult", "complEx", "rescal", "tuckER")(model)
    def init(n: Int, w: Int): Array[Array[Float]] = {
      val bound =
        if (multiplicative) 0.5f / math.sqrt(dim).toFloat
        else 6.0f / math.sqrt(dim).toFloat
      Array.fill(n)(Array.fill(w)((rng.nextFloat() * 2 - 1) * bound))
    }
    val ent = init(nEntities, ed)
    // tuckER: the shared d^3 core tensor W rides as an extra relation
    // row; its entries multiply THREE embedding factors, so the init
    // scale must shrink with d to keep scores (and hinge gradients) tame
    val rel =
      if (model == "tuckER") {
        val coreBound = 1.0f / dim
        init(nRelations, rd) ++
          Array(Array.fill(dim * dim * dim)((rng.nextFloat() * 2 - 1) * coreBound))
      } else init(nRelations, rd)
    (ent, rel)
  }

  /** Driver-path negative corruption `(h, r, t, epoch, nE) => (nh, nt)`.
    * Returns a self-contained function (captures only primitives — the
    * closure ships into mapPartitions without dragging the trainer
    * along). TEST SEAM: the parity spec overrides this and
    * [[corruptNegatives]] with one shared rule. */
  protected def corruptFn: (Int, Int, Int, Int, Int) => (Int, Int) = {
    val sd = seed
    (h, rr, t, epoch, nE) => {
      // corrupt head or tail with a seeded hash (Bernoulli-uniform)
      val hsh = MurmurHash3.productHash((h, rr, t, epoch, sd))
      val corruptHead = (hsh & 1) == 0
      val fake = math.floorMod(hsh >> 1, nE)
      if (corruptHead) (fake, t) else (h, fake)
    }
  }

  /** Driver-resident training over triples `(h(i), r(i), t(i))`.
    *
    * The reference's internal 95/5/0 split (transE/model.py:163-174)
    * keeps `trainFraction` of the triples, chosen by the same
    * `pmod(xxhash64(int h, int r, int t, long seed), 10000)` predicate
    * [[fitDistributed]] evaluates in Spark. Kept triples are visited in
    * sorted (h, r, t) order. Each epoch sums one full-batch gradient and
    * applies one SGD step. Gradient values are float sums whose rounding
    * depends on accumulation order, so the order is fixed: with
    * `pinOrder` every triple accumulates into one gradient in sorted
    * order (the q41 golden layout); otherwise `threads` contiguous
    * chunks of the sorted triples accumulate in parallel and merge in
    * chunk order. Either way the fit is a pure function of its inputs
    * and `threads`. */
  def fitLocal(h: Array[Int], r: Array[Int], t: Array[Int], nEntities: Int, nRelations: Int,
               threads: Int): (Array[Array[Float]], Array[Array[Float]]) = {
    val (ent, rel) = initArrays(nEntities, nRelations)
    val byTriple: Ordering[Int] = (a, b) => {
      val c = Integer.compare(h(a), h(b))
      if (c != 0) c else {
        val c2 = Integer.compare(r(a), r(b))
        if (c2 != 0) c2 else Integer.compare(t(a), t(b))
      }
    }
    val kept = h.indices.filter(i => inTrainSplit(h(i), r(i), t(i))).toArray.sorted(byTriple)
    val n = kept.length
    val chunks = if (pinOrder) 1 else math.max(1, math.min(threads, n))
    val bounds = Array.tabulate(chunks + 1)(c => (n.toLong * c / chunks).toInt)
    val corrupt = corruptFn
    val core = if (model == "tuckER") rel(rel.length - 1) else null
    type Grads = mutable.HashMap[Int, Array[Float]]

    /** The hinge gradients of kept triples [lo, hi) at `epoch`. */
    def gradients(epoch: Int, lo: Int, hi: Int): (Grads, Grads) = {
      val ge: Grads = mutable.HashMap.empty
      val gr: Grads = mutable.HashMap.empty
      def accE(i: Int) = ge.getOrElseUpdate(i, new Array[Float](ent(i).length))
      def accR(i: Int) = gr.getOrElseUpdate(i, new Array[Float](rel(i).length))
      def gcore = if (core != null) accR(rel.length - 1) else null
      var j = lo
      while (j < hi) {
        val i = kept(j)
        val (hh, rr, tt) = (h(i), r(i), t(i))
        val (nh, nt) = corrupt(hh, rr, tt, epoch, nEntities)
        val sPos = KgeModels.score(model, dim, ent(hh), rel(rr), ent(tt), core, fctNorm)
        val sNeg = KgeModels.score(model, dim, ent(nh), rel(rr), ent(nt), core, fctNorm)
        if (margin + sNeg - sPos > 0) { // hinge active: raise sPos, lower sNeg
          KgeModels.addGrad(model, dim, ent(hh), rel(rr), ent(tt), 1.0,
            accE(hh), accR(rr), accE(tt), core, gcore, fctNorm)
          KgeModels.addGrad(model, dim, ent(nh), rel(rr), ent(nt), -1.0,
            accE(nh), accR(rr), accE(nt), core, gcore, fctNorm)
        }
        j += 1
      }
      (ge, gr)
    }
    def merge(x: Grads, y: Grads): Unit = y.foreach { case (k, v) =>
      x.get(k) match {
        case Some(acc) => var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 }
        case None      => x.update(k, v)
      }
    }
    val pool = if (chunks > 1) java.util.concurrent.Executors.newFixedThreadPool(chunks) else null
    try {
      for (epoch <- 0 until epochs) {
        val parts =
          if (pool == null) Seq(gradients(epoch, 0, n))
          else (0 until chunks)
            .map(c => pool.submit(new java.util.concurrent.Callable[(Grads, Grads)] {
              def call(): (Grads, Grads) = gradients(epoch, bounds(c), bounds(c + 1))
            }))
            .map(_.get())
        val (entGrad, relGrad) = parts.head
        parts.tail.foreach { case (e, g) => merge(entGrad, e); merge(relGrad, g) }
        val step = (lr / math.max(1.0, n / 10000.0)).toFloat // scale step with batch size
        def clip(x: Float): Float = math.max(-1.0f, math.min(1.0f, x)) // per-component update cap
        entGrad.foreach { case (k, g) =>
          val v = ent(k); var i = 0; while (i < v.length) { v(i) += clip(step * g(i)); i += 1 }
        }
        relGrad.foreach { case (k, g) =>
          val v = rel(k); var i = 0; while (i < v.length) { v(i) += clip(step * g(i)); i += 1 }
        }
      }
    } finally if (pool != null) pool.shutdown()
    (ent, rel)
  }

  /** Whether a triple falls in the `trainFraction` share: the driver
    * replay of `pmod(xxhash64(int h, int r, int t, long seed), 10000) <
    * trainFraction·10000`, the filter [[fitDistributed]] applies. */
  private[graft] def inTrainSplit(h: Int, r: Int, t: Int): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val hash = XXH64.hashLong(seed, XXH64.hashInt(t, XXH64.hashInt(r, XXH64.hashInt(h, 42L))))
    math.floorMod(hash, 10000L) < (trainFraction * 10000).toLong
  }

  /** Floats the model holds for this vocabulary — the quantity the
    * driver-vs-distributed gate compares with `KGraph.MaxDriverParams`. */
  def nParams(nEntities: Int, nRelations: Int): Long = {
    val (ed, rd) = KgeModels.dims(model, dim)
    nEntities.toLong * ed + nRelations.toLong * rd +
      (if (model == "tuckER") dim.toLong * dim * dim else 0L)
  }

  /** Distributed-path parameter init: per-element hash, uniform in
    * [-bound, bound], reproducible under any partitioning (a retried
    * task recomputes identical numbers). TEST SEAM paired with
    * [[initArrays]]. */
  protected def initTables(spark: SparkSession, nEntities: Int,
                           nRelations: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (ed, rd) = KgeModels.dims(model, dim)
    val multiplicative = Set("distMult", "complEx", "rescal", "tuckER")(model)
    val initBound =
      if (multiplicative) 0.5f / math.sqrt(dim).toFloat else 6.0f / math.sqrt(dim).toFloat
    val coreBound = 1.0f / dim
    val d = dim; val sd = seed
    val hasCore = model == "tuckER"
    def unif(id: Int, slot: Int, salt: Long, bound: Float): Float = {
      val h = MurmurHash3.productHash((id, slot, salt))
      (h.toFloat / Int.MaxValue) * bound
    }
    def initTable(n: Int, width: Int, salt: Long, extraCore: Boolean): DataFrame = {
      val ib = initBound; val cb = coreBound; val dd = d
      val rows = spark.range(if (extraCore) n + 1 else n).select(col("id").cast("int"))
        .as[Int].mapPartitions { it =>
          it.map { id =>
            val w = if (extraCore && id == n) dd * dd * dd else width
            val b = if (extraCore && id == n) cb else ib
            (id, Array.tabulate(w)(s => unif(id, s, salt, b)))
          }
        }
      rows.toDF("id", "vec")
    }
    (initTable(nEntities, ed, sd, extraCore = false),
      initTable(nRelations, rd, sd + 101, extraCore = hasCore))
  }

  /** Distributed-path negative corruption: columnar seeded-hash
    * Bernoulli head/tail swap. TEST SEAM paired with [[corruptFn]]. */
  protected def corruptNegatives(data: DataFrame, epoch: Int, nE: Int): DataFrame = {
    val sd = seed
    data.select(col("h"), col("r"), col("t"),
        (pmod(xxhash64(col("h"), col("r"), col("t"), lit(epoch), lit(sd)), lit(2L)) === 0)
          .as("corruptHead"),
        pmod(xxhash64(col("h"), col("r"), col("t"), lit(epoch), lit(sd + 13)), lit(nE.toLong))
          .cast("int").as("fake"))
      .select(col("h"), col("r"), col("t"),
        when(col("corruptHead"), col("fake")).otherwise(col("h")).as("nh"),
        when(col("corruptHead"), col("t")).otherwise(col("fake")).as("nt"))
  }

  /** Fully distributed trainer: parameters live as DataFrame rows
    * partitioned by id — the >1e7-entity path the driver-resident
    * variant cannot reach. Each epoch:
    *   1. columnar seeded-hash negative corruption (Bernoulli head/tail);
    *   2. five shuffled joins gather the parameter rows each triple
    *      touches (h, t, nh, nt, rel) — the standard fact-to-dimension
    *      gather, AQE-sized;
    *   3. per-triple hinge gradients with the SAME KgeModels math,
    *      emitted as sparse (param-row, grad) pairs;
    *   4. map-side-combining reduce per parameter row, then a left-join
    *      update with the same step scaling and per-component clip;
    *   5. localCheckpoint to truncate the iterative lineage.
    *
    * RNG deviations from [[fitLocal]] (DEVIATIONS #5 covers RNG freedom):
    * init and corruption use per-element seeded hashes instead of a
    * sequential driver RNG — order-free, so a retried or re-partitioned
    * epoch computes identical numbers. tuckER's d³ core stays a single
    * shared row, fetched and broadcast per epoch (13 MB at d=150).
    */
  def fitDistributed(spark: SparkSession, triples: DataFrame,
                     nEntities: Int, nRelations: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val mdl = model; val d = dim; val m = margin; val nE = nEntities; val fn = fctNorm
    val hasCore = mdl == "tuckER"
    val coreId = nRelations // extra relation row for the shared tuckER core

    val (entInit, relInit) = initTables(spark, nEntities, nRelations)
    var ent = entInit.persist()
    var rel = relInit.persist()
    ent.count(); rel.count()

    // the reference's internal 95/5 split, same predicate as fitLocal()
    val data = triples.select(col("h").cast("int"), col("r").cast("int"), col("t").cast("int"))
      .filter(pmod(xxhash64(col("h"), col("r"), col("t"), lit(seed)), lit(10000L))
        < lit((trainFraction * 10000).toLong))
      .persist()
    val n = data.count().toDouble
    val step = (lr / math.max(1.0, n / 10000.0)).toFloat
    def clip(x: Float): Float = math.max(-1.0f, math.min(1.0f, x))

    for (epoch <- 0 until epochs) {
      val core: Array[Float] =
        if (hasCore) rel.filter(col("id") === coreId).head().getSeq[Float](1).toArray else null
      val bcCore = spark.sparkContext.broadcast(core)

      val withNeg = corruptNegatives(data, epoch, nE)

      val gathered = withNeg
        .join(ent.select(col("id").as("h"), col("vec").as("hv")), Seq("h"))
        .join(ent.select(col("id").as("t"), col("vec").as("tv")), Seq("t"))
        .join(ent.select(col("id").as("nh"), col("vec").as("nhv")), Seq("nh"))
        .join(ent.select(col("id").as("nt"), col("vec").as("ntv")), Seq("nt"))
        .join(rel.select(col("id").as("r"), col("vec").as("rv")), Seq("r"))
        .select("h", "r", "t", "nh", "nt", "hv", "tv", "nhv", "ntv", "rv")

      // typed decode: the tuple encoder materializes Array[Float] via a
      // primitive bulk copy (UnsafeArrayData.toFloatArray); Row.getSeq
      // boxed every float of five embedding columns per triple, which
      // multiplied the whole tier's CPU ~13× on the d³/d² models
      // per-partition combine, mirroring the driver tier's accumulation:
      // gradients add into one array per touched parameter row, and the
      // partition emits a single (row, partial) pair per key. Per-TRIPLE
      // emission allocated a fresh d³ core-gradient array per active
      // triple (16 KB each at d=16) and made the downstream reduce merge
      // one row per triple — the merge re-did the whole gradient volume
      // (tuckER probe: 1.66k CPU-s/epoch before, ~0.3k after).
      val gradRdd = gathered
        .as[(Int, Int, Int, Int, Int, Array[Float], Array[Float], Array[Float],
          Array[Float], Array[Float])]
        .rdd.mapPartitions { it =>
        val coreArr = bcCore.value
        val ge = mutable.HashMap.empty[Int, Array[Float]]
        val gr = mutable.HashMap.empty[Int, Array[Float]]
        it.foreach { case (h, r, t, nh, nt, hv, tv, nhv, ntv, rv) =>
          val sPos = KgeModels.score(mdl, d, hv, rv, tv, coreArr, fn)
          val sNeg = KgeModels.score(mdl, d, nhv, rv, ntv, coreArr, fn)
          if (m + sNeg - sPos > 0) {
            def accE(i: Int, w: Int) = ge.getOrElseUpdate(i, new Array[Float](w))
            def accR(i: Int, w: Int) = gr.getOrElseUpdate(i, new Array[Float](w))
            val gcore =
              if (coreArr != null) accR(coreId, coreArr.length) else null
            KgeModels.addGrad(mdl, d, hv, rv, tv, 1.0,
              accE(h, hv.length), accR(r, rv.length), accE(t, tv.length), coreArr, gcore, fn)
            KgeModels.addGrad(mdl, d, nhv, rv, ntv, -1.0,
              accE(nh, nhv.length), accR(r, rv.length), accE(nt, ntv.length), coreArr, gcore, fn)
          }
        }
        ge.iterator.map { case (k, v) => (true, k, v) } ++
          gr.iterator.map { case (k, v) => (false, k, v) }
      }
      val summed = spark.createDataset(gradRdd)
        .groupByKey(x => (x._1, x._2))
        .reduceGroups { (a, b) =>
          val acc = a._3; val v = b._3
          var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 }
          a
        }
        .map(_._2)

      def applyUpdates(table: DataFrame, isEnt: Boolean): DataFrame = {
        val g = summed.filter(_._1 == isEnt).map(x => (x._2, x._3)).toDF("id", "g")
        table.join(g, Seq("id"), "left")
          .as[(Int, Array[Float], Array[Float])]
          .map { case (id, v, grad) =>
            if (grad == null) (id, v)
            else {
              val out = v.clone()
              var i = 0; while (i < out.length) { out(i) += clip(step * grad(i)); i += 1 }
              (id, out)
            }
          }
          .toDF("id", "vec")
      }
      val newEnt = applyUpdates(ent, isEnt = true).localCheckpoint(eager = true)
      val newRel = applyUpdates(rel, isEnt = false).localCheckpoint(eager = true)
      ent.unpersist(blocking = false); rel.unpersist(blocking = false)
      ent = newEnt; rel = newRel
      bcCore.destroy()
    }
    data.unpersist()
    (ent, rel)
  }
}
