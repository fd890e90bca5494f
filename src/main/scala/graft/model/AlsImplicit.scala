package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Implicit-feedback ALS (Hu, Koren & Volinsky 2008, "Collaborative
  * Filtering for Implicit Feedback Datasets") — the third canonical
  * MF member next to [[Als]] (explicit) and [[BprMf]] (pairwise), and
  * the one matching the reference's binarized-implicit experiment
  * regime (`framework/dataloader/preprocess/methods.py:17-26`
  * binarize + the relevance-threshold workflow in
  * `config_files/test.yml`).
  *
  * Every observed (u, i) is a preference `p = 1(r > 0)` with
  * confidence `c = 1 + α·r`; unobserved cells are p=0 at confidence 1
  * (so an observed r=0 row — a binarized low rating — is exactly an
  * unobserved cell: c=1 contributes nothing to A and p=0 nothing to
  * b). The HKV
  * trick makes the dense normal equations sparse-cost: for user u,
  * `(YᵀY + Σ_{i∈I_u}(c_ui−1)·y_i y_iᵀ + λI) x_u = Σ_{i∈I_u} c_ui·y_i`
  * — the gram `YᵀY` is computed ONCE per half-sweep over the fixed
  * side and shared by every row, so per-row work is |I_u|, not
  * n_items. Regularization is plain λ (HKV §4), not the explicit
  * tier's weighted-λ.
  *
  * Same two-tier execution as [[Als]] (driver tier `pinOrder`-exact
  * for the q168 golden; distributed tier never collects factors),
  * sharing [[Als.solve]] and serving through the size-gated
  * [[MfServing.topKRecs]]. Rows with zero observations solve
  * `(G + λI)x = 0` → exactly the zero vector, so skipping them is the
  * math, not an approximation.
  */
class AlsImplicit(val dim: Int, val iters: Int, val lambda: Double,
                  val alpha: Double, val seed: Long,
                  val pinOrder: Boolean = false) extends Serializable {
  require(lambda > 0, s"als_implicit: lambda must be > 0 (got $lambda)")

  /** Driver-path item-factor init — same scheme as [[Als]]. TEST SEAM
    * paired with [[initItemTable]]. */
  protected def initItemArrays(nItems: Int): Array[Array[Float]] = {
    val rng = new java.util.Random(seed)
    val bound = 0.5f / math.sqrt(dim).toFloat
    Array.fill(nItems)(Array.fill(dim)((rng.nextFloat() * 2 - 1) * bound))
  }

  /** ratings: (u, i, r) dense int ids + double strength (r ≥ 0).
    * Returns (P, Q). */
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
    val d = dim; val lam = lambda; val a = alpha
    def halfSweep(fixed: Array[Array[Float]], byUserSide: Boolean, nRows: Int): Array[Array[Float]] = {
      // global gram of the fixed side, accumulated in index order
      // (deterministic on the driver tier)
      val g = new Array[Double](d * (d + 1) / 2)
      var r0 = 0
      while (r0 < fixed.length) { AlsImplicit.gramAdd(d, fixed(r0), g); r0 += 1 }
      val bc = spark.sparkContext.broadcast(fixed)
      val acc = data.mapPartitions { it =>
        val f = bc.value
        val m = mutable.HashMap.empty[Int, (Array[Double], Array[Double])]
        it.foreach { case (u, i, r) =>
          val (key, vec) = if (byUserSide) (u, f(i)) else (i, f(u))
          val e = m.getOrElseUpdate(key,
            (new Array[Double](d * (d + 1) / 2), new Array[Double](d)))
          AlsImplicit.accumulate(d, vec, 1.0 + a * r, if (r > 0) 1.0 else 0.0, e._1, e._2)
        }
        Iterator.single(m)
      }.treeReduce { (x, y) =>
        y.foreach { case (k, (ab, bb)) =>
          x.get(k) match {
            case Some((aa, ba)) =>
              var i = 0; while (i < ab.length) { aa(i) += ab(i); i += 1 }
              i = 0; while (i < bb.length) { ba(i) += bb(i); i += 1 }
            case None => x.update(k, (ab, bb))
          }
        }
        x
      }
      bc.destroy()
      val out = Array.fill(nRows)(new Array[Float](d))
      acc.foreach { case (k, (aTri, b)) =>
        val full = new Array[Double](aTri.length)
        var i = 0; while (i < full.length) { full(i) = g(i) + aTri(i); i += 1 }
        out(k) = Als.solve(d, full, b, lam)
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

  /** Fully distributed sweeps — factor rows never touch the driver;
    * the gram is a treeAggregate of d(d+1)/2 doubles per half-sweep
    * (a scalar-sized reduce however many rows the fixed side has). */
  def fitDistributed(spark: SparkSession, ratings: DataFrame,
                     nUsers: Int, nItems: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val d = dim; val lam = lambda; val a = alpha
    var q = initItemTable(spark, nItems).persist()
    q.count()
    var p: DataFrame = null
    val data = ratings
      .select(col("u").cast("int"), col("i").cast("int"), col("r").cast("double"))
      .persist()
    data.count()
    def halfSweep(fixed: DataFrame, byUserSide: Boolean): DataFrame = {
      val g = fixed.select("vec").as[Array[Float]].rdd.treeAggregate(
        new Array[Double](d * (d + 1) / 2))(
        (acc, v) => { AlsImplicit.gramAdd(d, v, acc); acc },
        (x, y) => { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x })
      val bcG = spark.sparkContext.broadcast(g)
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
          val m = mutable.HashMap.empty[Int, (Array[Double], Array[Double])]
          it.foreach { case (key, vec, r) =>
            val e = m.getOrElseUpdate(key,
              (new Array[Double](d * (d + 1) / 2), new Array[Double](d)))
            AlsImplicit.accumulate(d, vec, 1.0 + a * r, if (r > 0) 1.0 else 0.0, e._1, e._2)
          }
          m.iterator
        }
        .reduceByKey { (x, y) =>
          var i = 0; while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
          i = 0; while (i < x._2.length) { x._2(i) += y._2(i); i += 1 }
          x
        }
        .map { case (k, (aTri, bv)) =>
          val gg = bcG.value
          val full = new Array[Double](aTri.length)
          var i = 0; while (i < full.length) { full(i) = gg(i) + aTri(i); i += 1 }
          (k, Als.solve(d, full, bv, lam))
        }
        .toDF("id", "vec")
        .localCheckpoint(true)
      // the eager localCheckpoint above is the consuming action — the
      // gram broadcast is dead past it; without this, 2 retained
      // broadcasts per iteration accumulate until session GC
      bcG.destroy()
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

object AlsImplicit {

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

  /** End-to-end implicit-ALS recommendations over a rating frame:
    * every rated pair is an observation (strength = max rating per
    * pair — max, not sum, so the aggregate is order-deterministic),
    * [[MfServing]] dense ids + size-gated dot-product serving, seen
    * items excluded. */
  def recs(spark: SparkSession, ratings: DataFrame, dim: Int, iters: Int,
           lambda: Double, alpha: Double, seed: Long, k: Int,
           pinOrder: Boolean = false): DataFrame = {
    val (pos, uIdx, iIdx, _) = MfServing.denseIds(ratings, Double.NegativeInfinity)
    val nUsers = uIdx.count().toInt
    val nItems = iIdx.count().toInt
    val dense = ratings.join(uIdx, Seq("user_id")).join(iIdx, Seq("item_id"))
      .groupBy("u", "i").agg(max("rating").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (pDf, qDf) = new AlsImplicit(dim, iters, lambda, alpha, seed, pinOrder)
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

/** [[Recommender]] adapter: registry name `als_implicit`. Config keys:
  * `embedding_dim`, `iters`, `lambda`, `alpha`, `seed`, `pin_order`. */
class AlsImplicitRecommender(cfg: Map[String, String]) extends Recommender {
  val name = "als_implicit"
  private var sparkRef: SparkSession = _
  private var trainRef: DataFrame = _
  private var served: Option[DataFrame] = None

  def train(spark: SparkSession, trainRatings: DataFrame,
            propertyEdges: Option[DataFrame] = None,
            socialEdges: Option[DataFrame] = None): Recommender = {
    sparkRef = spark; trainRef = trainRatings; this
  }

  def recommend(k: Int): DataFrame = {
    val out = AlsImplicit.recs(sparkRef, trainRef,
      dim = cfg.getOrElse("embedding_dim", "16").toInt,
      iters = cfg.getOrElse("iters", "5").toInt,
      lambda = cfg.getOrElse("lambda", "0.1").toDouble,
      alpha = cfg.getOrElse("alpha", "40.0").toDouble,
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
