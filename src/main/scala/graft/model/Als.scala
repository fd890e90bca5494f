package graft.model

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Alternating Least Squares matrix factorization, one solver for
  * explicit feedback (Koren/Bell/Volinsky 2009; Zhou et al. 2008
  * weighted-λ, registry `als`) and implicit feedback (Hu, Koren &
  * Volinsky 2008, [[AlsImplicit]], registry `als_implicit`) — the MF
  * family next to [[BprMf]]'s pairwise model.
  *
  * Each sweep solves EXACT per-row normal equations, for users then
  * symmetrically for items — no learning rate, convergence in a handful
  * of sweeps, and the solve itself is a deterministic d×d Gaussian
  * elimination. HKV write implicit ALS as explicit ALS plus confidence
  * weights plus one YᵀY gram shared by every row, so the two differ only
  * in their [[Als.Objective]]: how an observation enters its row's
  * normal equations, whether the gram joins them, and the ridge. The
  * sweeps below are written once and take it as a value. Same two-tier
  * execution model as [[graft.kge.KgeTrainer]]/[[BprMf]]:
  *
  *  - DRIVER TIER ([[fit]]): factors on the driver; each half-sweep
  *    broadcasts the fixed side, accumulates per-row normal equations in
  *    mapPartitions, treeReduces, and solves on the driver; the gram is
  *    summed over the fixed side in index order. `pinOrder` sorts the
  *    triplets onto one partition → bit-exact across sessions (the q164
  *    and q168 goldens).
  *  - DISTRIBUTED TIER ([[fitDistributed]]): factor rows in
  *    DataFrames; gather-join, per-partition combined accumulation,
  *    reduce per row, solve in the update map, localCheckpoint per
  *    half-sweep; the gram is a treeAggregate of d(d+1)/2 doubles.
  *
  * Both tiers share [[Als.Objective]] and [[Als.solve]], so divergence
  * can only be wiring (the seam-pinned parity specs' point).
  */
class Als(val dim: Int, val iters: Int, val lambda: Double, val seed: Long,
          val pinOrder: Boolean = false, val objective: Als.Objective = Als.Explicit)
    extends MfTrainer {

  def nParams(nUsers: Int, nItems: Int): Long = (nUsers.toLong + nItems.toLong) * dim

  /** Driver-path item-factor init (users start at zero and are solved
    * in the first half-sweep). TEST SEAM paired with [[initItemTable]]. */
  protected def initItemArrays(nItems: Int): Array[Array[Float]] = {
    val rng = new java.util.Random(seed)
    val bound = 0.5f / math.sqrt(dim).toFloat
    Array.fill(nItems)(Array.fill(dim)((rng.nextFloat() * 2 - 1) * bound))
  }

  /** ratings: (u, i, r) dense int ids + double rating. Returns (P, Q). */
  def fit(spark: SparkSession, ratings: DataFrame, nUsers: Int, nItems: Int):
      (Array[Array[Float]], Array[Array[Float]]) = {
    var q = initItemArrays(nItems)
    var p = Array.fill(nUsers)(new Array[Float](dim))
    val dataRaw = ratings
      .select(col("u").cast("int"), col("i").cast("int"), col("r").cast("double"))
      .rdd.map(row => (row.getInt(0), row.getInt(1), row.getDouble(2)))
    val data = (if (pinOrder) dataRaw.sortBy(identity, numPartitions = 1)
                else dataRaw).persist()
    data.count()
    val d = dim; val lam = lambda; val obj = objective
    def halfSweep(fixed: Array[Array[Float]], byUserSide: Boolean, nRows: Int): Array[Array[Float]] = {
      // the gram summed in index order: deterministic on the driver tier
      val gram = if (!obj.withGram) None
        else Some(fixed.foldLeft(new Array[Double](d * (d + 1) / 2)) { (g, v) =>
          Als.gramAdd(d, v, g); g })
      val bc = spark.sparkContext.broadcast(fixed)
      val acc = data.mapPartitions { it =>
        val f = bc.value
        val m = mutable.HashMap.empty[Int, Als.NormalEq]
        it.foreach { case (u, i, r) =>
          val (key, vec) = if (byUserSide) (u, f(i)) else (i, f(u))
          m.getOrElseUpdate(key, new Als.NormalEq(d)).observe(obj, vec, r)
        }
        Iterator.single(m)
      }.treeReduce { (a, b) =>
        b.foreach { case (k, eb) => a.get(k).fold(a.update(k, eb))(_.add(eb)) }
        a
      }
      bc.destroy()
      val out = Array.fill(nRows)(new Array[Float](d))
      acc.foreach { case (k, e) => out(k) = e.solve(obj, lam, gram) }
      out
    }
    for (_ <- 0 until iters) {
      p = halfSweep(q, byUserSide = true, nUsers)
      q = halfSweep(p, byUserSide = false, nItems)
    }
    data.unpersist()
    (p, q)
  }

  /** Distributed-path item init: per-element hash (retry-safe). TEST
    * SEAM paired with [[initItemArrays]]. */
  protected def initItemTable(spark: SparkSession, nItems: Int): DataFrame = {
    import spark.implicits._
    val bound = 0.5f / math.sqrt(dim).toFloat
    val d = dim; val sd = seed
    spark.range(nItems).select(col("id").cast("int")).as[Int]
      .mapPartitions(_.map { id =>
        (id, Array.tabulate(d) { s =>
          (MurmurHash3.productHash((id, s, sd)).toFloat / Int.MaxValue) * bound
        })
      }).toDF("id", "vec")
  }

  /** Fully distributed sweeps — factor rows never touch the driver. */
  def fitDistributed(spark: SparkSession, ratings: DataFrame,
                     nUsers: Int, nItems: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val d = dim; val lam = lambda; val obj = objective
    var q = initItemTable(spark, nItems).persist()
    q.count()
    var p: DataFrame = null
    val data = ratings
      .select(col("u").cast("int"), col("i").cast("int"), col("r").cast("double"))
      .persist()
    data.count()
    def halfSweep(fixed: DataFrame, byUserSide: Boolean): DataFrame = {
      val bcGram: Option[Broadcast[Array[Double]]] =
        if (!obj.withGram) None
        else Some(spark.sparkContext.broadcast(fixed.select("vec").as[Array[Float]].rdd
          .treeAggregate(new Array[Double](d * (d + 1) / 2))(
            (g, v) => { Als.gramAdd(d, v, g); g },
            (x, y) => { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x })))
      val fixedKey = if (byUserSide) "i" else "u"
      val outKey = if (byUserSide) "u" else "i"
      // the join's output is partitioned by the FIXED side's key, so
      // without re-keying every partition's accumulation map sees up to
      // ~all out-side keys (~1.3 KB of normal-equation state each at
      // d=16: 3M users x 64 partitions OOMed the 10M-row probe).
      // Re-partitioning by the out key bounds the map at nKeys/nParts
      // entries and makes the reduceByKey exchange near-empty.
      val gathered = data
        .join(fixed.select(col("id").as(fixedKey), col("vec").as("fv")), Seq(fixedKey))
        .select(col(outKey).as("key"), col("fv"), col("r"))
        .repartition(col("key"))
      val solved = gathered.as[(Int, Array[Float], Double)]
        .rdd.mapPartitions { it =>
          val m = mutable.HashMap.empty[Int, Als.NormalEq]
          it.foreach { case (key, vec, r) =>
            m.getOrElseUpdate(key, new Als.NormalEq(d)).observe(obj, vec, r)
          }
          m.iterator
        }
        .reduceByKey(_.add(_))
        .map { case (k, e) => (k, e.solve(obj, lam, bcGram.map(_.value))) }
        .toDF("id", "vec")
        .localCheckpoint(true)
      // the eager localCheckpoint above is the consuming action — the
      // gram broadcast is dead past it; without this, 2 retained
      // broadcasts per iteration accumulate until session GC
      bcGram.foreach(_.destroy())
      solved
    }
    for (_ <- 0 until iters) {
      val newP = halfSweep(q, byUserSide = true)
      if (p != null) p.unpersist(blocking = false)
      p = newP
      val newQ = halfSweep(p, byUserSide = false)
      q.unpersist(blocking = false)
      q = newQ
    }
    data.unpersist()
    (p, q)
  }

  /** End-to-end recommendations over a rating frame: every (user, item)
    * pair with a non-null rating is one observation at its max rating
    * (max, not sum, so the aggregate is order-deterministic). A pair
    * whose ratings are all null is no observation but stays seen, so it
    * is never recommended. [[MfServing]] dense ids + size-gated
    * dot-product serving, seen items excluded. */
  def recs(spark: SparkSession, ratings: DataFrame, k: Int): DataFrame = {
    val (pos, uIdx, iIdx, _) = MfServing.denseIds(ratings, Double.NegativeInfinity)
    val nUsers = uIdx.count().toInt
    val nItems = iIdx.count().toInt
    val dense = ratings.join(uIdx, Seq("user_id")).join(iIdx, Seq("item_id"))
      .groupBy("u", "i").agg(max("rating").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (pDf, qDf) = MfServing.fitEmb(spark, this, dense.filter(col("r").isNotNull), nUsers, nItems)
    val out = MfServing.topKRecs(spark, pDf, qDf, dim, bias = false,
        dense.select("u", "i"), uIdx, iIdx, k, knownItemCount = nItems)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    Seq(pos, uIdx, iIdx, dense).foreach(_.unpersist(blocking = false))
    out
  }
}

object Als {

  /** What an ALS objective adds to the shared sweep: how one observation
    * `(v, r)` enters its row's packed normal equations, whether the
    * fixed side's gram `YᵀY` is added to every row, and the ridge. Passed
    * into the sweeps' closures as a value, never through the trainer. */
  trait Objective extends Serializable {
    def accumulate(d: Int, v: Array[Float], r: Double, aTri: Array[Double], b: Array[Double]): Unit
    def withGram: Boolean
    /** The ridge of a row with `n` observations. */
    def ridge(lambda: Double, n: Long): Double
  }

  /** Explicit feedback: for user u,
    * `(Σ_{i∈I_u} q_i q_iᵀ + λ·|I_u|·I) p_u = Σ r_ui q_i` (weighted-λ
    * regularization). */
  case object Explicit extends Objective {
    /** Upper-triangle `A += v vᵀ` (row-major packed) and `b += r·v`:
      * A's products in float, every sum in double. */
    def accumulate(d: Int, v: Array[Float], r: Double,
                   aTri: Array[Double], b: Array[Double]): Unit = {
      var idx = 0; var i = 0
      while (i < d) {
        val vi = v(i)
        var j = i
        while (j < d) { aTri(idx) += vi * v(j); idx += 1; j += 1 }
        b(i) += r * vi
        i += 1
      }
    }
    def withGram: Boolean = false
    def ridge(lambda: Double, n: Long): Double = lambda * n
  }

  /** One row's normal equations: packed upper-triangle A, b, and the
    * number of observations in them. */
  private[model] final class NormalEq(d: Int) extends Serializable {
    val a = new Array[Double](d * (d + 1) / 2)
    val b = new Array[Double](d)
    var n = 0L

    def observe(obj: Objective, v: Array[Float], r: Double): Unit = {
      obj.accumulate(d, v, r, a, b); n += 1
    }

    def add(o: NormalEq): NormalEq = {
      var i = 0; while (i < a.length) { a(i) += o.a(i); i += 1 }
      i = 0; while (i < b.length) { b(i) += o.b(i); i += 1 }
      n += o.n
      this
    }

    /** The row's factor: `(A [+ gram] + ridge·I) x = b`. Consumes A. */
    def solve(obj: Objective, lambda: Double, gram: Option[Array[Double]]): Array[Float] = {
      gram.foreach { g => var i = 0; while (i < a.length) { a(i) += g(i); i += 1 } }
      Als.solve(d, a, b, obj.ridge(lambda, n))
    }
  }

  /** `g += v vᵀ` (packed upper triangle) — the per-half-sweep gram. */
  private[model] def gramAdd(d: Int, v: Array[Float], g: Array[Double]): Unit = {
    var idx = 0; var i = 0
    while (i < d) {
      val vi = v(i).toDouble
      var j = i
      while (j < d) { g(idx) += vi * v(j); idx += 1; j += 1 }
      i += 1
    }
  }

  /** Solve `(A + ridge·I) x = b` for the packed upper-triangle A by
    * Gaussian elimination with partial pivoting (d ≤ a few hundred;
    * deterministic float-free control flow). Returns x as floats. */
  private[model] def solve(d: Int, aTri: Array[Double], b: Array[Double],
                           ridge: Double): Array[Float] = {
    val a = Array.ofDim[Double](d, d)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) { a(i)(j) = aTri(idx); a(j)(i) = aTri(idx); idx += 1; j += 1 }
      a(i)(i) += ridge
      i += 1
    }
    val x = b.clone()
    i = 0
    while (i < d) {
      var piv = i; var best = math.abs(a(i)(i))
      var r = i + 1
      while (r < d) { val m = math.abs(a(r)(i)); if (m > best) { best = m; piv = r }; r += 1 }
      // a row with fewer observations than dim and ridge == 0 yields a
      // singular system — fail loudly instead of propagating NaN factors
      if (!(best > 1e-12))
        throw new IllegalStateException(
          s"ALS normal equations singular at elimination step $i (pivot $best): " +
          "a user/item has fewer ratings than dim with lambda == 0 — use lambda > 0")
      if (piv != i) { val t = a(i); a(i) = a(piv); a(piv) = t
        val tb = x(i); x(i) = x(piv); x(piv) = tb }
      val di = a(i)(i)
      r = i + 1
      while (r < d) {
        val f = a(r)(i) / di
        if (f != 0.0) {
          var c = i
          while (c < d) { a(r)(c) -= f * a(i)(c); c += 1 }
          x(r) -= f * x(i)
        }
        r += 1
      }
      i += 1
    }
    i = d - 1
    while (i >= 0) {
      var s = x(i); var c = i + 1
      while (c < d) { s -= a(i)(c) * x(c); c += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x.map(_.toFloat)
  }

  /** Explicit-feedback ALS recommendations: `recs` of an [[Als]]. */
  def recs(spark: SparkSession, ratings: DataFrame, dim: Int, iters: Int,
           lambda: Double, seed: Long, k: Int, pinOrder: Boolean = false): DataFrame =
    new Als(dim, iters, lambda, seed, pinOrder).recs(spark, ratings, k)
}
