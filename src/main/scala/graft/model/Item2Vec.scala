package graft.model

import graft.walk.SkipGram
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** item2vec (Barkan & Koenigstein 2016, "Item2Vec: Neural Item
  * Embedding for Collaborative Filtering") — SGNS over per-user
  * rating BASKETS as sentences, the set-context sibling of the walk
  * family: deepwalk/node2vec embed the graph's random walks, item2vec
  * embeds co-consumption directly. Fourth model family in the
  * registry (`item2vec`) next to neighborhood CF, MF, and the
  * walk/KGE embedders.
  *
  * Spark shape: baskets come from one user-keyed groupBy (positive
  * items sorted by dense id — the paper treats the basket as a SET,
  * so a window spanning the basket makes all pairs co-occur; the sort
  * just fixes the SGD fold order for determinism — window >= basket
  * size IS the paper's semantics and it matters: the windowed form
  * probed 20x worse MAP on the ml-100k-shaped fixture; cap basket
  * sizes upstream if the per-basket pair cost len^2 is a concern). Training reuses
  * [[graft.walk.SkipGram]]'s two regimes: the collected corpus through
  * `fitLocal` within `SkipGram.fitsDriver`, replica-averaged
  * `fitDistributed` past it. Serving: the user vector is the MEAN of the
  * user's positive item embeddings — computed as a sorted-list HOF
  * fold (left-to-right doubles, deterministic under any partitioning,
  * never a float-order-dependent groupBy avg) — then the shared
  * size-gated exact-kNN serve
  * ([[graft.walk.DeepWalkRecommender.knnRecommend]]: k' = k +
  * maxRated, seen anti-joined, (score desc, item) tie-break).
  */
object Item2Vec {

  /** @return (user_id, item_id, rank ≤ k), user/item ids as strings
    *         (the walk-family serving contract) */
  def recs(spark: SparkSession, ratings: DataFrame, minRating: Double,
           dim: Int, window: Int, epochs: Int, lr: Double, negative: Int,
           seed: Long, k: Int, pinOrder: Boolean = false): DataFrame = {
    val (pos, uIdx, iIdx, dense) = MfServing.denseIds(ratings, minRating)
    val nItems = iIdx.count().toInt
    val nTokens = dense.count()
    // baskets as sentences over dense item ids, sorted for a fixed
    // fold order; pinOrder additionally totals-orders the sentence
    // list itself (the corpus is consumed in partition order)
    val sentsBase = dense.groupBy("u")
      .agg(sort_array(collect_list(col("i"))).as("path"))
    val sents = if (pinOrder) sentsBase.orderBy("u") else sentsBase
    val emb =
      if (SkipGram.fitsDriver(nItems, dim, nTokens)) {
        import spark.implicits._
        val sentences = sents.select(col("path").cast("array<int>")).as[Array[Int]].collect()
        SkipGram.embDF(spark, SkipGram.fitLocal(sentences, nItems, dim, window, epochs, lr,
          negative = negative, minCount = 0, seed = seed,
          threads = if (pinOrder) 1 else spark.sparkContext.defaultParallelism))
      } else
        SkipGram.fitDistributed(spark, sents, nItems, dim, window,
          epochs, lr, negative = negative, minCount = 0, seed = seed)
    val itemEmb = emb.join(iIdx, emb("node_id") === iIdx("i"))
      .select(col("item_id").cast("string").as("id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic mean-pooled user vectors: sorted (i, vec) list,
    // per-dimension left-to-right double fold
    val userEmb = dense.join(emb, dense("i") === emb("node_id"))
      .groupBy("u")
      .agg(sort_array(collect_list(struct(col("i"), col("vec")))).as("ivs"))
      .select(col("u"),
        expr(s"transform(sequence(0, ${dim - 1}), j -> " +
          "aggregate(ivs, cast(0.0 as double), (a, e) -> a + e.vec[j]) / size(ivs))")
          .as("vec"))
      .join(uIdx, Seq("u"))
      .select(col("user_id").cast("string").as("id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = pos.select(col("user_id").cast("string").as("user_id"),
      col("item_id").cast("string").as("item_id"))
    val out = graft.walk.DeepWalkRecommender.knnRecommend(train, userEmb, itemEmb, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    Seq(pos, uIdx, iIdx, itemEmb, userEmb).foreach(_.unpersist(blocking = false))
    out
  }
}
