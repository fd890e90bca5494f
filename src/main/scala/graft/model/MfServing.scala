package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A matrix-factorization trainer as [[MfServing.fitEmb]] sees it: its
  * parameter count and its two fits over `(u, i[, r])` dense ids, the
  * driver fit returning (P, Q) arrays indexed by id. */
trait MfTrainer extends Serializable {
  def nParams(nUsers: Int, nItems: Int): Long
  def fit(spark: SparkSession, ratings: DataFrame, nUsers: Int, nItems: Int):
      (Array[Array[Float]], Array[Array[Float]])
  def fitDistributed(spark: SparkSession, ratings: DataFrame, nUsers: Int, nItems: Int):
      (DataFrame, DataFrame)
}

/** The matrix-factorization family's shared plumbing ([[BprMf]],
  * [[Als]] under either objective, [[AlsImplicit]]): one factor-table
  * dispatch and one dot-product serving.
  *
  * [[fitEmb]] turns a [[MfTrainer]]'s fit into factor tables
  * `(id: int, vec: array<float>)`: up to
  * [[graft.graph.KGraph.MaxDriverParams]] model floats the driver fit's
  * arrays, wrapped, else the distributed fit's own tables. A model gives
  * only its parameter count and its two fits.
  *
  * [[topKRecs]] scores every (user, item) as `p·q (+ bias)`, keeps a
  * bounded per-user heap of size `k + maxRated` (the
  * [[graft.walk.DeepWalkRecommender]] k' trick guarantees ≥ k unseen
  * survivors), anti-joins the seen pairs and ranks ≤ k. [[kernel]]
  * picks one of two value-identical kernels from the item count
  * (MfServingSpec pins bit-equality by calling both directly):
  *
  *  - item catalogs up to 2M rows (≈ 136 MB at d=16 floats):
  *    [[topKBroadcast]] collects and broadcasts the item matrix,
  *    fused score-and-select per user partition — users never shuffle,
  *    only the ≤ k'-per-user survivors do.
  *  - larger catalogs: [[topKBlockShuffle]], NEVER collected to the
  *    driver — a block cartesian over glom'd factor partitions (each
  *    item block deserializes once per block pair, not once per scored
  *    pair) feeds per-user bounded heaps, merged order-independently
  *    under the same (score desc, item asc) total order. The exchange
  *    carries at most n_users × n_item_blocks × k' skinny rows; the
  *    N×M scored stream never crosses the wire. Float accumulation
  *    order per pair is identical to the broadcast kernel, so scores
  *    are bit-equal and the merged top-k' set is deterministic under
  *    any partitioning.
  *
  * This mirrors [[graft.knn.CosineKnn.topK]]'s dispatch; the ANN index
  * family (SrpLsh/IVF) remains the recommended serving path above
  * ~10M items, with the block kernel as the exact fallback.
  */
private[model] object MfServing {

  /** Most item rows the broadcast kernel collects to the driver. */
  private val CollectMaxItems = 2000000L

  /** The kernel [[topKRecs]] runs for `nItems` items: "broadcast-heap"
    * or "block-shuffle". */
  private[graft] def kernel(nItems: Long): String =
    if (nItems <= CollectMaxItems) "broadcast-heap" else "block-shuffle"

  /** Factor tables `(id: int, vec: array<float>)` of `trainer` fit on
    * `ratings`: the driver fit within [[graft.graph.KGraph.MaxDriverParams]]
    * model floats, the distributed fit above. */
  def fitEmb(spark: SparkSession, trainer: MfTrainer, ratings: DataFrame,
             nUsers: Int, nItems: Int): (DataFrame, DataFrame) =
    if (trainer.nParams(nUsers, nItems) > graft.graph.KGraph.MaxDriverParams)
      trainer.fitDistributed(spark, ratings, nUsers, nItems)
    else {
      val (p, q) = trainer.fit(spark, ratings, nUsers, nItems)
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
    }

  /** @param pDf     user factors (id, vec)
    * @param qDf     item factors (id, vec) under dense ids 0..nItems-1
    * @param d       factor width used for the dot product
    * @param bias    score starts at `q(d)` (a trailing bias slot)
    *                instead of 0
    * @param dense   seen (u, i) pairs
    * @param uIdx    (user_id, u) dense user index
    * @param iIdx    (item_id, i) dense item index
    * @param knownItemCount  pass nItems when already known (≥ 0) and
    *                        the gating count() scan is skipped
    * @return (user_id, item_id, rank) — (score desc, item_id) tie-break */
  def topKRecs(spark: SparkSession, pDf: DataFrame, qDf: DataFrame,
               d: Int, bias: Boolean, dense: DataFrame,
               uIdx: DataFrame, iIdx: DataFrame, k: Int,
               knownItemCount: Long = -1L): DataFrame = {
    val nItems = if (knownItemCount >= 0L) knownItemCount else qDf.count()
    val maxRated = dense.groupBy("u").agg(count(lit(1)).as("c"))
      .agg(max("c")).first().getLong(0).toInt
    val kPrime = math.min(k.toLong + maxRated, nItems).toInt
    val topRaw = kernel(nItems) match {
      case "block-shuffle" => topKBlockShuffle(spark, pDf, qDf, d, bias, kPrime)
      case _ => topKBroadcast(spark, pDf, qDf, d, bias, kPrime, nItems.toInt)
    }
    topRaw
      .join(dense.select(col("u"), col("i"), lit(1).as("__seen")), Seq("u", "i"), "left")
      .filter(col("__seen").isNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy("u").orderBy(col("score").desc, col("i"))))
      .filter(col("rank") <= k)
      .join(uIdx, Seq("u")).join(iIdx, Seq("i"))
      .select(col("user_id"), col("item_id"), col("rank"))
  }

  /** Worst candidate under (score desc, item asc) dequeues first. */
  private def worstFirst: Ordering[(Float, Int)] =
    new Ordering[(Float, Int)] {
      def compare(a: (Float, Int), b: (Float, Int)): Int = {
        val c = java.lang.Float.compare(b._1, a._1)
        if (c != 0) c else java.lang.Integer.compare(a._2, b._2)
      }
    }

  /** Bounded insert under [[worstFirst]] — ONE shared definition so the
    * two kernels' bit-equality contract cannot drift (scores here are
    * finite floats, so ord.compare is exactly the old inlined
    * `s > worst || (s == worst && i < item)` predicate). */
  @inline private def push(heap: mutable.PriorityQueue[(Float, Int)],
                           s: Float, i: Int, kPrime: Int,
                           ord: Ordering[(Float, Int)]): Unit = {
    if (heap.size < kPrime) heap.enqueue((s, i))
    else if (ord.compare((s, i), heap.head) < 0) { heap.dequeue(); heap.enqueue((s, i)) }
  }

  /** Bias-aware dot in the exact float order both kernels share. */
  @inline private def score(pv: Array[Float], qv: Array[Float], d: Int,
                            bias: Boolean): Float = {
    var s = if (bias) qv(d) else 0.0f
    var j = 0
    while (j < d) { s += pv(j) * qv(j); j += 1 }
    s
  }

  /** Broadcast kernel: item matrix to every executor once, fused
    * score-and-select over the user partitions. Returns (u, i, score):
    * each user's best `kPrime` items, seen ones included. */
  private[graft] def topKBroadcast(spark: SparkSession, pDf: DataFrame, qDf: DataFrame,
                                   d: Int, bias: Boolean, kPrime: Int,
                                   nItems: Int): DataFrame = {
    import spark.implicits._
    val qArr = new Array[Array[Float]](nItems)
    qDf.select(col("id").cast("int"), col("vec"))
      .collect().foreach(r => qArr(r.getInt(0)) = r.getSeq[Float](1).toArray)
    val bcQ = spark.sparkContext.broadcast(qArr)
    val ord = worstFirst
    val out = pDf.as[(Int, Array[Float])].mapPartitions { it =>
      val qq = bcQ.value
      it.flatMap { case (u, pv) =>
        val heap = mutable.PriorityQueue.empty[(Float, Int)](ord)
        var i = 0
        while (i < qq.length) {
          push(heap, score(pv, qq(i), d, bias), i, kPrime, ord)
          i += 1
        }
        heap.iterator.map { case (s, item) => (u, item, s) }
      }
    }.toDF("u", "i", "score")
      // eagerly materialize the (bounded: nUsers x kPrime rows) result
      // so the item-matrix broadcast — potentially 100s of MB — can be
      // destroyed here instead of leaking until session GC
      .localCheckpoint(true)
    bcQ.destroy()
    out
  }

  /** Block kernel for catalogs too large to collect OR broadcast: each
    * (user block × item block) task scores its cross product into
    * per-user bounded heaps; heaps merge by concat-sort-truncate under
    * the shared total order (associative + commutative, so the merge
    * tree shape never changes the survivor set). Returns
    * [[topKBroadcast]]'s rows. */
  private[graft] def topKBlockShuffle(spark: SparkSession, pDf: DataFrame, qDf: DataFrame,
                                      d: Int, bias: Boolean, kPrime: Int): DataFrame = {
    import spark.implicits._
    val ord = worstFirst
    val pRdd = pDf.select(col("id").cast("int"), col("vec"))
      .as[(Int, Array[Float])].rdd
    val qRdd = qDf.select(col("id").cast("int"), col("vec"))
      .as[(Int, Array[Float])].rdd
    // total row-decode cost is pRows×qBlocks + qRows×pBlocks — the
    // huge item side is deserialized once PER USER BLOCK, so coalesce
    // the user side as far as parallelism allows (tasks = pBlocks ×
    // qBlocks must still cover the cluster), capped at 4× the input
    // partitioning so a glom'd block never exceeds ~4 input partitions
    // of rows in one task's memory (probed: 10M items × 64 users fell
    // 32 → 8 user blocks, 4× less item-side decode)
    val qParts = math.max(1, qRdd.getNumPartitions)
    val minForParallelism =
      (spark.sparkContext.defaultParallelism + qParts - 1) / qParts
    val targetPBlocks = math.max(1,
      math.max(minForParallelism, pRdd.getNumPartitions / 4))
    val pBlocks = (if (pRdd.getNumPartitions > targetPBlocks)
      pRdd.coalesce(targetPBlocks) else pRdd).glom()
    val qBlocks = qRdd.glom()
    val partials = pBlocks.cartesian(qBlocks).flatMap { case (ps, qs) =>
      ps.iterator.map { case (u, pv) =>
        val heap = mutable.PriorityQueue.empty[(Float, Int)](ord)
        var x = 0
        while (x < qs.length) {
          val (i, qv) = qs(x)
          push(heap, score(pv, qv, d, bias), i, kPrime, ord)
          x += 1
        }
        (u, heap.toArray)
      }
    }
    val merged = partials.reduceByKey { (a, b) =>
      val all = a ++ b
      // under worstFirst a HIGHER score compares smaller (the PQ
      // dequeues its max = the worst), so ascending sort is best-first
      java.util.Arrays.sort(all, ord)
      if (all.length <= kPrime) all else all.take(kPrime)
    }
    merged.flatMap { case (u, arr) => arr.iterator.map { case (s, i) => (u, i, s) } }
      .toDF("u", "i", "score")
  }

  /** Dense-index a rating frame's positive pairs: (pos, uIdx, iIdx,
    * dense) with the three frames persisted — caller must unpersist
    * after materializing downstream output. */
  def denseIds(ratings: DataFrame, minRating: Double):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pos = ratings.filter(col("rating") >= minRating)
      .select(col("user_id"), col("item_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uIdx = graft.util.DenseIndex.byKey(pos.select("user_id").distinct(), "user_id")
      .select(col("user_id"), (col("idx") - 1).cast("int").as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val iIdx = graft.util.DenseIndex.byKey(pos.select("item_id").distinct(), "item_id")
      .select(col("item_id"), (col("idx") - 1).cast("int").as("i"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dense = pos.join(uIdx, Seq("user_id")).join(iIdx, Seq("item_id"))
      .select("u", "i")
    (pos, uIdx, iIdx, dense)
  }
}
