package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Explicit-feedback Alternating Least Squares matrix factorization
  * (Koren/Bell/Volinsky 2009; Zhou et al. 2008 weighted-λ variant) —
  * the second member of the MF family next to [[BprMf]]'s implicit
  * pairwise model, plugged into the same registry (`als`).
  *
  * Each sweep solves EXACT per-row normal equations: for user u,
  * `(Σ_{i∈I_u} q_i q_iᵀ + λ·|I_u|·I) p_u = Σ r_ui q_i` (weighted-λ
  * regularization), then symmetrically for items — no learning rate,
  * convergence in a handful of sweeps, and the solve itself is a
  * deterministic d×d Gaussian elimination. Same two-tier execution
  * model as [[graft.kge.KgeTrainer]]/[[BprMf]]:
  *
  *  - DRIVER TIER ([[fit]]): factors on the driver; each half-sweep
  *    broadcasts the fixed side, accumulates per-row (A, b) sparse
  *    maps in mapPartitions, treeReduces, and solves on the driver.
  *    `pinOrder` sorts the triplets onto one partition → bit-exact
  *    across sessions (the q164 golden).
  *  - DISTRIBUTED TIER ([[fitDistributed]]): factor rows in
  *    DataFrames; gather-join, per-partition combined (A, b)
  *    accumulation, reduce per row, solve in the update map,
  *    localCheckpoint per half-sweep.
  *
  * Both tiers share [[Als.accumulate]]/[[Als.solve]], so divergence
  * can only be wiring (the seam-pinned parity spec's point).
  */
class Als(val dim: Int, val iters: Int, val lambda: Double, val seed: Long,
          val pinOrder: Boolean = false) extends Serializable {

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
    val d = dim; val lam = lambda
    def halfSweep(fixed: Array[Array[Float]], byUserSide: Boolean, nRows: Int): Array[Array[Float]] = {
      val bc = spark.sparkContext.broadcast(fixed)
      val acc = data.mapPartitions { it =>
        val f = bc.value
        val m = mutable.HashMap.empty[Int, (Array[Double], Array[Double], Array[Long])]
        it.foreach { case (u, i, r) =>
          val (key, vec) = if (byUserSide) (u, f(i)) else (i, f(u))
          val e = m.getOrElseUpdate(key,
            (new Array[Double](d * (d + 1) / 2), new Array[Double](d), new Array[Long](1)))
          Als.accumulate(d, vec, r, e._1, e._2); e._3(0) += 1
        }
        Iterator.single(m)
      }.treeReduce { (a, b) =>
        b.foreach { case (k, (ab, bb, nb)) =>
          a.get(k) match {
            case Some((aa, ba, na)) =>
              var i = 0; while (i < ab.length) { aa(i) += ab(i); i += 1 }
              i = 0; while (i < bb.length) { ba(i) += bb(i); i += 1 }
              na(0) += nb(0)
            case None => a.update(k, (ab, bb, nb))
          }
        }
        a
      }
      bc.destroy()
      val out = Array.fill(nRows)(new Array[Float](d))
      acc.foreach { case (k, (aTri, b, n)) =>
        out(k) = Als.solve(d, aTri, b, lam * n(0))
      }
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
    val d = dim; val lam = lambda
    var q = initItemTable(spark, nItems).persist()
    q.count()
    var p: DataFrame = null
    val data = ratings
      .select(col("u").cast("int"), col("i").cast("int"), col("r").cast("double"))
      .persist()
    data.count()
    def halfSweep(fixed: DataFrame, byUserSide: Boolean): DataFrame = {
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
      gathered.as[(Int, Array[Float], Double)]
        .rdd.mapPartitions { it =>
          val m = mutable.HashMap.empty[Int, (Array[Double], Array[Double], Array[Long])]
          it.foreach { case (key, vec, r) =>
            val e = m.getOrElseUpdate(key,
              (new Array[Double](d * (d + 1) / 2), new Array[Double](d), new Array[Long](1)))
            Als.accumulate(d, vec, r, e._1, e._2); e._3(0) += 1
          }
          m.iterator
        }
        .reduceByKey { (a, b) =>
          var i = 0; while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
          i = 0; while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
          a._3(0) += b._3(0); a
        }
        .map { case (k, (aTri, bv, n)) => (k, Als.solve(d, aTri, bv, lam * n(0))) }
        .toDF("id", "vec")
        .localCheckpoint(true)
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

  /** Dispatch by parameter count, like the other trainers. */
  def fitEmb(spark: SparkSession, ratings: DataFrame, nUsers: Int, nItems: Int):
      (DataFrame, DataFrame) = {
    val nParams = (nUsers.toLong + nItems.toLong) * dim
    if (nParams <= graft.graph.KGraph.MaxDriverParams) {
      val (p, q) = fit(spark, ratings, nUsers, nItems)
      def wrap(arr: Array[Array[Float]]): DataFrame = {
        import org.apache.spark.sql.types._
        val rows = spark.sparkContext
          .parallelize(arr.toIndexedSeq.zipWithIndex,
            math.max(1, spark.sparkContext.defaultParallelism))
          .map { case (v, id) => org.apache.spark.sql.Row(id, v.toIndexedSeq) }
        spark.createDataFrame(rows, StructType(Seq(
          StructField("id", IntegerType, nullable = false),
          StructField("vec", ArrayType(FloatType, containsNull = false)))))
      }
      (wrap(p), wrap(q))
    } else fitDistributed(spark, ratings, nUsers, nItems)
  }
}

object Als {

  /** Add one observation to a row's normal equations: upper-triangle
    * `A += v vᵀ` (row-major packed) and `b += r·v`. Doubles — the
    * accumulation both tiers share. */
  private[model] def accumulate(d: Int, v: Array[Float], r: Double,
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

  /** End-to-end ALS recommendations over a rating frame: ALL rated
    * pairs train (explicit feedback), [[MfServing]] dense ids +
    * dot-product serving, seen items excluded. */
  def recs(spark: SparkSession, ratings: DataFrame, dim: Int, iters: Int,
           lambda: Double, seed: Long, k: Int, pinOrder: Boolean = false): DataFrame = {
    val (pos, uIdx, iIdx, _) = MfServing.denseIds(ratings, Double.NegativeInfinity)
    val nUsers = uIdx.count().toInt
    val nItems = iIdx.count().toInt
    val dense = ratings.join(uIdx, Seq("user_id")).join(iIdx, Seq("item_id"))
      .groupBy("u", "i").agg(max("rating").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (pDf, qDf) = new Als(dim, iters, lambda, seed, pinOrder)
      .fitEmb(spark, dense, nUsers, nItems)
    val out = MfServing.topKRecs(spark, pDf, qDf, dim, bias = false,
        dense.select("u", "i"), uIdx, iIdx, k, knownItemCount = nItems)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    pos.unpersist(blocking = false)
    uIdx.unpersist(blocking = false)
    iIdx.unpersist(blocking = false)
    dense.unpersist(blocking = false)
    out
  }
}

/** [[Recommender]] adapter: registry name `als`. Config keys:
  * `embedding_dim`, `iters`, `lambda`, `seed`, `pin_order`. */
class AlsRecommender(cfg: Map[String, String]) extends Recommender {
  val name = "als"
  private var sparkRef: SparkSession = _
  private var trainRef: DataFrame = _
  private var served: Option[DataFrame] = None

  def train(spark: SparkSession, trainRatings: DataFrame,
            propertyEdges: Option[DataFrame] = None,
            socialEdges: Option[DataFrame] = None): Recommender = {
    sparkRef = spark; trainRef = trainRatings; this
  }

  def recommend(k: Int): DataFrame = {
    val out = Als.recs(sparkRef, trainRef,
      dim = cfg.getOrElse("embedding_dim", "16").toInt,
      iters = cfg.getOrElse("iters", "5").toInt,
      lambda = cfg.getOrElse("lambda", "0.1").toDouble,
      seed = cfg.getOrElse("seed", "42").toLong,
      k = k,
      pinOrder = cfg.getOrElse("pin_order", "false").toBoolean)
    served = Some(out)
    out
  }

  override def release(): Unit = {
    served.foreach(_.unpersist(blocking = false)); served = None
  }
}