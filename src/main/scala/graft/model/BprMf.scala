package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Bayesian Personalized Ranking matrix factorization (Rendle et al.,
  * UAI 2009) — the canonical implicit-feedback CF model family. The
  * reference's model registry
  * (`/root/reference/framework/recommender/model2class.py:1-42`)
  * frames a plug-in zoo but ships no MF member; this is that member,
  * exposed through the same [[Recommender]] extension point the other
  * models use.
  *
  * Model: user factors P (nUsers × d), item factors Q (nItems × d)
  * with a per-item bias in slot d (width d+1). For a positive (u, i)
  * and a seeded-hash sampled negative j the pairwise score is
  * `x_uij = p_u·(q_i − q_j) + b_i − b_j`; training ascends
  * `ln σ(x_uij) − reg·‖θ‖²` with full-batch gradients per epoch —
  * the same deterministic execution model as [[graft.kge.KgeTrainer]]:
  *
  *  - DRIVER TIER ([[fit]]): parameter arrays on the driver, per-epoch
  *    broadcast + mapPartitions sparse-gradient maps + treeReduce +
  *    one SGD step. `pinOrder` sorts the interactions onto one
  *    partition so float accumulation order is fixed — bit-exact
  *    across sessions (the q162 golden-parquet oracle).
  *  - DISTRIBUTED TIER ([[fitDistributed]]): factors live as DataFrame
  *    rows; each epoch gathers the three touched rows per interaction
  *    by equi-join, emits per-partition combined sparse gradients, and
  *    left-join-updates the tables with localCheckpoint lineage
  *    truncation. Init/negatives use order-free per-element hashes
  *    (retry-safe) — the RNG deviation DEVIATIONS #5 already covers.
  *  - [[MfServing.fitEmb]] picks the tier by total parameter count,
  *    like the KGE regime gate in [[graft.kge.KgeRecommender]].
  *
  * Negative sampling collisions (j happens to be a positive, or j = i)
  * are kept, not resampled — a pure function of (u, i, epoch) is what
  * makes both tiers and the golden replayable; a collision contributes
  * a (near-)zero pairwise gradient, the classic bounded-bias tradeoff.
  */
class BprMf(val dim: Int, val epochs: Int, val lr: Double, val reg: Double,
            val seed: Long, val pinOrder: Boolean = false) extends MfTrainer {

  def nParams(nUsers: Int, nItems: Int): Long = nUsers.toLong * dim + nItems.toLong * (dim + 1)

  /** Driver-path init: sequential seeded RNG (the layout the q162
    * golden pins). TEST SEAM — the parity spec overrides this and
    * [[initTables]] with one shared formula. Item rows carry the bias
    * in slot `dim`, initialized 0. */
  protected def initArrays(nUsers: Int, nItems: Int): (Array[Array[Float]], Array[Array[Float]]) = {
    val rng = new java.util.Random(seed)
    val bound = 0.5f / math.sqrt(dim).toFloat
    val users = Array.fill(nUsers)(Array.fill(dim)((rng.nextFloat() * 2 - 1) * bound))
    val items = Array.fill(nItems)(
      Array.tabulate(dim + 1)(s => if (s == dim) 0.0f else (rng.nextFloat() * 2 - 1) * bound))
    (users, items)
  }

  /** Driver-path negative draw `(u, i, epoch, nItems) => j`. TEST SEAM
    * paired with [[negativesColumnar]]. */
  protected def negativeFn: (Int, Int, Int, Int) => Int = {
    val sd = seed
    (u, i, epoch, nI) => math.floorMod(MurmurHash3.productHash((u, i, epoch, sd)), nI)
  }

  /** positives: (u, i) dense int ids. Returns (P, Q) — Q width dim+1
    * (bias slot last). */
  def fit(spark: SparkSession, positives: DataFrame, nUsers: Int, nItems: Int):
      (Array[Array[Float]], Array[Array[Float]]) = {
    val (p, q) = initArrays(nUsers, nItems)
    val dataRaw = positives.select(col("u").cast("int"), col("i").cast("int"))
      .rdd.map(row => (row.getInt(0), row.getInt(1)))
    val data = (if (pinOrder) dataRaw.sortBy(identity, numPartitions = 1)
                else dataRaw).persist()
    val n = data.count().toDouble
    val d = dim; val rg = reg.toFloat; val nI = nItems
    val neg = negativeFn
    for (epoch <- 0 until epochs) {
      val bcP = spark.sparkContext.broadcast(p)
      val bcQ = spark.sparkContext.broadcast(q)
      val (gp, gq) = data.mapPartitions { it =>
        val pp = bcP.value; val qq = bcQ.value
        val gu = mutable.HashMap.empty[Int, Array[Float]]
        val gi = mutable.HashMap.empty[Int, Array[Float]]
        def accU(k: Int) = gu.getOrElseUpdate(k, new Array[Float](d))
        def accI(k: Int) = gi.getOrElseUpdate(k, new Array[Float](d + 1))
        it.foreach { case (u, i) =>
          val j = neg(u, i, epoch, nI)
          BprMf.addGrad(d, rg, pp(u), qq(i), qq(j), accU(u), accI(i), accI(j))
        }
        Iterator.single((gu, gi))
      }.treeReduce { (a, b) =>
        def merge(x: mutable.HashMap[Int, Array[Float]], y: mutable.HashMap[Int, Array[Float]]) = {
          y.foreach { case (k, v) =>
            x.get(k) match {
              case Some(acc) => var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 }
              case None      => x.update(k, v)
            }
          }
          x
        }
        (merge(a._1, b._1), merge(a._2, b._2))
      }
      val step = (lr / math.max(1.0, n / 10000.0)).toFloat
      def clip(x: Float): Float = math.max(-1.0f, math.min(1.0f, x))
      gp.foreach { case (k, g) =>
        val v = p(k); var i = 0; while (i < v.length) { v(i) += clip(step * g(i)); i += 1 }
      }
      gq.foreach { case (k, g) =>
        val v = q(k); var i = 0; while (i < v.length) { v(i) += clip(step * g(i)); i += 1 }
      }
      bcP.destroy(); bcQ.destroy()
    }
    data.unpersist()
    (p, q)
  }

  /** Distributed-path init: per-element hash, identical under any
    * partitioning/retry. TEST SEAM paired with [[initArrays]]. */
  protected def initTables(spark: SparkSession, nUsers: Int, nItems: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val bound = 0.5f / math.sqrt(dim).toFloat
    val d = dim; val sd = seed
    def unif(id: Int, slot: Int, salt: Long): Float = {
      val h = MurmurHash3.productHash((id, slot, salt))
      (h.toFloat / Int.MaxValue) * bound
    }
    val users = spark.range(nUsers).select(col("id").cast("int")).as[Int]
      .mapPartitions(_.map(id => (id, Array.tabulate(d)(s => unif(id, s, sd)))))
      .toDF("id", "vec")
    val items = spark.range(nItems).select(col("id").cast("int")).as[Int]
      .mapPartitions(_.map(id =>
        (id, Array.tabulate(d + 1)(s => if (s == d) 0.0f else unif(id, s, sd + 7)))))
      .toDF("id", "vec")
    (users, items)
  }

  /** Distributed-path negative draw as a column. TEST SEAM paired with
    * [[negativeFn]]. */
  protected def negativesColumnar(data: DataFrame, epoch: Int, nItems: Int): DataFrame =
    data.withColumn("j",
      pmod(xxhash64(col("u"), col("i"), lit(epoch), lit(seed)), lit(nItems.toLong)).cast("int"))

  /** Fully distributed trainer — factor rows never touch the driver.
    * Same epoch shape as [[graft.kge.KgeTrainer.fitDistributed]]:
    * columnar negatives → 3 join gathers (u, i, j) → per-partition
    * combined sparse gradients → reduce per row → left-join update →
    * eager localCheckpoint. */
  def fitDistributed(spark: SparkSession, positives: DataFrame,
                     nUsers: Int, nItems: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val d = dim; val rg = reg.toFloat
    val (pInit, qInit) = initTables(spark, nUsers, nItems)
    var p = pInit.persist()
    var q = qInit.persist()
    p.count(); q.count()
    val data = positives.select(col("u").cast("int"), col("i").cast("int")).persist()
    val n = data.count().toDouble
    val step = (lr / math.max(1.0, n / 10000.0)).toFloat
    def clip(x: Float): Float = math.max(-1.0f, math.min(1.0f, x))
    for (epoch <- 0 until epochs) {
      val gathered = negativesColumnar(data, epoch, nItems)
        .join(p.select(col("id").as("u"), col("vec").as("pv")), Seq("u"))
        .join(q.select(col("id").as("i"), col("vec").as("iv")), Seq("i"))
        .join(q.select(col("id").as("j"), col("vec").as("jv")), Seq("j"))
        .select("u", "i", "j", "pv", "iv", "jv")
      val gradRdd = gathered
        .as[(Int, Int, Int, Array[Float], Array[Float], Array[Float])]
        .rdd.mapPartitions { it =>
          val gu = mutable.HashMap.empty[Int, Array[Float]]
          val gi = mutable.HashMap.empty[Int, Array[Float]]
          it.foreach { case (u, i, j, pv, iv, jv) =>
            BprMf.addGrad(d, rg, pv, iv, jv,
              gu.getOrElseUpdate(u, new Array[Float](d)),
              gi.getOrElseUpdate(i, new Array[Float](d + 1)),
              gi.getOrElseUpdate(j, new Array[Float](d + 1)))
          }
          gu.iterator.map { case (k, v) => (true, k, v) } ++
            gi.iterator.map { case (k, v) => (false, k, v) }
        }
      val summed = spark.createDataset(gradRdd)
        .groupByKey(x => (x._1, x._2))
        .reduceGroups { (a, b) =>
          val acc = a._3; val v = b._3
          var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 }
          a
        }
        .map(_._2)
        // consumed twice below (user + item update) — persist so the
        // gather-join + gradient reduce runs once per epoch, not twice
        .persist()
      def applyUpdates(table: DataFrame, isUser: Boolean): DataFrame = {
        val g = summed.filter(_._1 == isUser).map(x => (x._2, x._3)).toDF("id", "g")
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
      val newP = applyUpdates(p, isUser = true).localCheckpoint(eager = true)
      val newQ = applyUpdates(q, isUser = false).localCheckpoint(eager = true)
      summed.unpersist(blocking = false)
      p.unpersist(blocking = false); q.unpersist(blocking = false)
      p = newP; q = newQ
    }
    data.unpersist()
    (p, q)
  }
}

object BprMf {

  /** Shared BPR gradient for one (u, i, j) sample — both tiers call
    * exactly this, so tier divergence can only come from wiring (the
    * parity spec's point). `x = p·(q_i − q_j) + b_i − b_j`,
    * `s = σ(−x)`; L2 regularization on every touched row. */
  private[model] def addGrad(d: Int, reg: Float,
                             p: Array[Float], qi: Array[Float], qj: Array[Float],
                             gu: Array[Float], gi: Array[Float], gj: Array[Float]): Unit = {
    var x = qi(d) - qj(d); var k = 0
    while (k < d) { x += p(k) * (qi(k) - qj(k)); k += 1 }
    val s = (1.0 / (1.0 + math.exp(x))).toFloat
    k = 0
    while (k < d) {
      gu(k) += s * (qi(k) - qj(k)) - reg * p(k)
      gi(k) += s * p(k) - reg * qi(k)
      gj(k) += -s * p(k) - reg * qj(k)
      k += 1
    }
    gi(d) += s - reg * qi(d)
    gj(d) += -s - reg * qj(d)
  }

  /** End-to-end BPR recommendations over a rating frame: implicit
    * positives at `rating ≥ minRating`, [[graft.util.DenseIndex]] ids
    * (decomposed — no single-partition window), [[MfServing.fitEmb]]-
    * dispatched training, then dot+bias serving: per-user top-(k + maxRated)
    * against the broadcast item matrix (a bounded per-partition heap,
    * the [[graft.walk.DeepWalkRecommender]] k' trick), seen items
    * anti-joined away, final rank ≤ k. Serving is size-gated inside
    * [[MfServing.topKRecs]]: catalogs above 2M items route through
    * the block-shuffle kernel and never touch the driver.
    *
    * @return (user_id, item_id, rank) with the (score desc, item_id)
    *         tie-break every recommender here uses */
  def recs(spark: SparkSession, ratings: DataFrame, minRating: Double, dim: Int,
           epochs: Int, lr: Double, reg: Double, seed: Long, k: Int,
           pinOrder: Boolean = false): DataFrame = {
    val (pos, uIdx, iIdx, dense) = MfServing.denseIds(ratings, minRating)
    val nUsers = uIdx.count().toInt
    val nItems = iIdx.count().toInt
    val (pDf, qDf) = MfServing.fitEmb(spark, new BprMf(dim, epochs, lr, reg, seed, pinOrder),
      dense, nUsers, nItems)
    val out = MfServing.topKRecs(spark, pDf, qDf, dim, bias = true,
        dense, uIdx, iIdx, k, knownItemCount = nItems)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize, then release the chain's internal caches
    pos.unpersist(blocking = false)
    uIdx.unpersist(blocking = false)
    iIdx.unpersist(blocking = false)
    out
  }
}
