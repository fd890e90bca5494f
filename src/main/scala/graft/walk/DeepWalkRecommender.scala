package graft.walk

import graft.graph.KGraph
import graft.knn.CosineKnn
import graft.model.Recommender
import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DeepWalk / node2vec recommender (SURVEY §2.8 M1-M3, M6): random
  * walks over the user-item(-property) graph, skip-gram embeddings, and
  * exact cosine top-k recommendation.
  *
  * Reference path: `deep_walk_based/model.py:50-122` — int-relabel the
  * graph (graph.py:168-179), `walker.random_walks`, gensim
  * Word2Vec(sg=1, hs=1), then brute kNN + anti-join + top-k cutoff
  * (model.py:54-97). Here: [[graft.graph.KGraph.relabel]],
  * [[RandomWalks]], [[SkipGram]] (skip-gram with negative sampling;
  * stock MLlib Word2Vec with `w2v_impl: mllib`), and exact cosine
  * top-k ([[DriverFold]] or [[CosineKnn.topK]]).
  *
  * cfg keys (YAML `parameters` block, config_files/test.yml:67-74):
  * walk_len, n_walks, p, q, biased, embedding_size, window_size,
  * epochs, learning_rate, min_count, workers, seed. Defaults mirror the
  * reference wrapper's (model.py:20-29): window_size 3, learning_rate
  * 0.05, min_count 1 (all-kept, as gensim min_count=1), workers =
  * local parallelism (`w2v_threads` remains an explicit alias).
  *
  * One walk kernel per walk kind ([[RandomWalks.uniformStep]],
  * [[RandomWalks.biasedStep]]) serves both regimes, which follow the
  * fold's size alone ([[EmbeddingServing]]). A small fold trains in the
  * driver regime: one Spark job collects the label edges, and relabel,
  * adjacency, walks and [[SkipGram.fitLocal]] run on driver arrays. The
  * driver walks are generated in (start, walk_idx) order, so `pin_order`
  * is implied there, and an unpinned run with `w2v_threads: 1` is
  * bit-exact too. Other folds, and every `w2v_impl: mllib` fold, train
  * in the distributed regime: Spark walks over the broadcast adjacency,
  * then [[SkipGram.fitDistributed]] or MLlib Word2Vec.
  */
class DeepWalkRecommender(cfg: Map[String, String] = Map.empty) extends EmbeddingServing {
  private def i(key: String, d: Int) = cfg.get(key).map(_.toInt).getOrElse(d)
  private def f(key: String, d: Double) = cfg.get(key).map(_.toDouble).getOrElse(d)

  /** Reference-format report name (deep_walk_based/model.py:45-48):
    * verbose and parameter-bearing — q before p, as the reference
    * prints it — so two configs of the same model stay distinct rows
    * in one report (run1.csv relies on exactly this). */
  override def name: String =
    "Node2Vec based model + cosine similarity" +
      s";q=${f("q", 1.0)};p=${f("p", 1.0)};embedding_size=${i("embedding_size", 64)}"

  protected def allRecs: Boolean = cfg.get("all_recs").contains("true")

  /** `w2v_impl`: `auto` (the default; the regime follows the fold's size)
    * or `mllib` (stock MLlib Word2Vec, so always distributed). */
  private val mllib: Boolean = cfg.getOrElse("w2v_impl", "auto") match {
    case "auto" => false
    case "mllib" => true
    case other => throw new IllegalArgumentException(
      s"w2v_impl '$other' is not one of: auto, mllib")
  }

  override protected def hasDriverFit: Boolean = !mllib

  protected def ratingRelation: Option[Column] = None

  // the walk graph takes ALL edge kinds: rating edges, (src_label,
  // dst_label) property edges and User–User social links
  // (graph.py:304-314); adjacency symmetrizes, matching the undirected
  // nx.Graph
  protected def otherEdges(propertyEdges: Option[DataFrame],
                           socialEdges: Option[DataFrame]): Seq[DataFrame] =
    propertyEdges.toSeq ++ socialEdges.toSeq

  private def seed: Int = i("seed", 42)
  private def biased: Boolean = cfg.get("biased").contains("true")

  /** The driver regime, when the adjacency holds at most
    * [[KGraph.MaxDriverEdges]] entries and [[SkipGram.fitsDriver]] holds.
    * Walks run from every node in (start, walk_idx) order — the corpus
    * order `pin_order` gives the distributed regime — with the step
    * functions of [[RandomWalks.randomWalks]] / [[RandomWalks.biasedWalks]],
    * so the walks are theirs. Nodes without a vector are dropped; users
    * seen only in social edges keep theirs. */
  protected def fitDriver(g: DriverGraph): Option[(Seq[(String, Array[Double])], Seq[(String, Array[Double])])] = {
    val n = g.labels.length
    val adj = RandomWalks.driverAdjacency(n, g.src, g.dst)
    if (n + adj.iterator.map(_.length.toLong).sum > KGraph.MaxDriverEdges ||
      !SkipGram.fitsDriver(n, i("embedding_size", 64), n.toLong * i("n_walks", 10) * i("walk_len", 10))) None
    else {
      val stepFn =
        if (biased) RandomWalks.biasedStep(f("p", 1.0), f("q", 1.0), seed)
        else RandomWalks.uniformStep(seed)
      val sentences = RandomWalks.driverWalks(adj, i("n_walks", 10), i("walk_len", 10), stepFn)
        .map(_.map(_.toInt))
      val vecs = SkipGram.fitLocal(sentences, n,
        dim = i("embedding_size", 64), window = i("window_size", 3),
        epochs = i("epochs", 1), lr = f("learning_rate", 0.05),
        negative = i("negative", 5), minCount = i("min_count", 1), seed = seed,
        threads = i("w2v_threads", i("workers", spark.sparkContext.defaultParallelism)))
      // ids stay strings: the reference schema types them string (§1.2)
      def side(prefix: String): Seq[(String, Array[Double])] = {
        val extract = KGraph.labelIdExtractor(prefix)
        g.labels.indices
          .filter(v => vecs(v) != null && g.labels(v).startsWith(s"$prefix("))
          .map(v => extract(g.labels(v)) -> vecs(v).map(_.toDouble))
      }
      Some((side("User"), side("Item")))
    }
  }

  /** The distributed regime: adjacency as a DataFrame, walks by
    * [[RandomWalks]], then [[SkipGram.fitDistributed]] or, with
    * `w2v_impl: mllib`, MLlib Word2Vec. */
  protected def fitDistributed(nodes: DataFrame, relations: DataFrame, edges: DataFrame,
                               train: DataFrame): (DataFrame, DataFrame) = {
    val adj = RandomWalks.adjacency(edges).cache()
    val starts = nodes.select(col("node_id").as("node"))
    val walksRaw =
      if (biased)
        RandomWalks.biasedWalks(spark, adj, starts, i("n_walks", 10), i("walk_len", 10),
          f("p", 1.0), f("q", 1.0), seed)
      else
        RandomWalks.randomWalks(spark, adj, starts, i("n_walks", 10), i("walk_len", 10), seed)
    // pin_order: total-order the corpus by its unique (start, walk_idx)
    // key so the SGNS kernel consumes sentences in a partitioning-
    // independent order — walk CONTENT is already seed-deterministic
    // (q42/q45 goldens), but collect order is partition order, and SGD
    // is order-sensitive.
    val walks = if (cfg.get("pin_order").contains("true"))
      walksRaw.orderBy("start", "walk_idx") else walksRaw

    // the corpus stays an RDD: [[SkipGram.fitDistributed]] trains
    // partition replicas + token-weighted averaging — the unbounded-
    // corpus path (model stays driver-sized, as in MLlib); `mllib`
    // keeps the stock MLlib Word2Vec for comparison. Both fits are eager.
    val nodeVecs =
      if (!mllib)
        SkipGram.fitDistributed(spark, walks, vocabSize = nodes.count().toInt,
          dim = i("embedding_size", 64), window = i("window_size", 3),
          epochs = i("epochs", 1), lr = f("learning_rate", 0.05),
          negative = i("negative", 5), minCount = i("min_count", 1), seed = seed,
          numPartitions = i("w2v_partitions", 0))
      else {
        // persist: Word2Vec.fit scans its input at least twice (vocab pass,
        // then its internal training cache) and the walk lineage recomputes
        // the whole generation kernel per scan — cache once, drop after fit
        val sentences = walks.select(expr("transform(path, x -> cast(x as string))").as("words"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val w2v = new Word2Vec()
          .setInputCol("words").setOutputCol("w2v")
          .setVectorSize(i("embedding_size", 64))
          .setWindowSize(i("window_size", 3))
          .setMaxIter(i("epochs", 1))
          .setStepSize(f("learning_rate", 0.05))
          .setMinCount(i("min_count", 1))
          .setNumPartitions(i("w2v_partitions", 8)) // gensim's workers analogue
          .setSeed(seed)
        val model = w2v.fit(sentences)
        sentences.unpersist(blocking = false)
        model.getVectors
          .select(col("word").cast("long").as("node_id"), vector_to_array(col("vector")).as("vec"))
      }
    // drop the walk working set so repeated trainings don't accumulate blocks
    adj.unpersist(blocking = false)

    // J9 relabel join-back: embeddings keyed by original label
    val emb = nodeVecs.join(nodes, Seq("node_id"))
    def side(prefix: String): DataFrame = emb.filter(col("label").startsWith(s"$prefix("))
      .select(regexp_extract(col("label"), s"^$prefix\\((.*)\\)$$", 1).as("id"), col("vec"))
    (side("User"), side("Item"))
  }
}

object DeepWalkRecommender {
  def registry: Map[String, Map[String, String] => Recommender] = Map(
    "deepwalk" -> (cfg => new DeepWalkRecommender(cfg)),
    "node2vec" -> (cfg => new DeepWalkRecommender(cfg + ("biased" -> "true"))),
    // the reference's registry name (model2class.py: 'deepwalk_based') —
    // mapped to the BIASED walker so a config's p/q take effect as its
    // author intended (the reference accepts them but never forwards
    // them to its walker; DEVIATIONS row 7). At the p=q=1.0 its shipped
    // configs mostly use, biased == first-order.
    "deepwalk_based" -> (cfg => new DeepWalkRecommender(cfg + ("biased" -> "true")))
  )

  /** Shared kNN recommendation path (J6 + J5 + W7): score k' =
    * min(max_user_rated + k, n_items) nearest items per user
    * (deep_walk_based/model.py:137-149), drop already-rated, keep k.
    * `allRecs` (model.py:75-76,84-86): rank EVERY unrated item instead
    * of cutting at k — used when callers re-rank downstream. */
  def knnRecommend(train: DataFrame, userEmb: DataFrame, itemEmb: DataFrame, k: Int,
                   allRecs: Boolean = false): DataFrame = {
    val maxRated = train.groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(max("c")).first().getLong(0)
    val nItems = itemEmb.count()
    val kPrime = if (allRecs) nItems.toInt else math.min(maxRated + k, nItems).toInt
    // item count is in hand — thread it through so the dispatch gate
    // doesn't rescan the (possibly uncached) item side
    val ranked = CosineKnn.topK(userEmb, itemEmb, kPrime, knownItemCount = nItems)
      .withColumnRenamed("query_id", "user_id")
      .join(train.select(col("user_id").cast("string").as("user_id"),
        col("item_id").cast("string").as("item_id")), Seq("user_id", "item_id"), "left_anti")
      .withColumn("rank", row_number().over(
        Window.partitionBy("user_id").orderBy(col("score").desc, col("item_id"))))
    (if (allRecs) ranked else ranked.filter(col("rank") <= k))
      .select("user_id", "item_id", "rank")
  }

  /** Single-user push-down of [[knnRecommend]]
    * (`get_user_recommendation`, deep_walk_based/model.py:84-103): the
    * reference filters to the user's UNRATED items first, then runs kNN
    * with n_neighbors = k over that candidate set. Same here — one query
    * row and a pre-anti-joined item side reach [[CosineKnn.topK]], so
    * either kernel (fused or shuffle-combine) scores a single user
    * instead of ranking all users and slicing after (which is what
    * filter-on-recommend costs at these opaque-RDD kernels, where no
    * Catalyst pushdown can reach below the kernel). Row-identical to the
    * per-user slice of [[knnRecommend]]: the full path's
    * k' = maxRated + k guarantees ≥ k unrated survivors per user, and
    * all kernels share the (score desc, item_id asc) tie-break. */
  def knnRecommendUser(train: DataFrame, userEmb: DataFrame, itemEmb: DataFrame,
                       user: String, k: Int, allRecs: Boolean = false): DataFrame = {
    val query = userEmb.filter(col("id") === lit(user))
    val rated = train.filter(col("user_id").cast("string") === lit(user))
      .select(col("item_id").cast("string").as("id")).distinct()
    val candidates = itemEmb.join(rated, Seq("id"), "left_anti")
    val nCand = candidates.count()
    val kk = if (allRecs) nCand.toInt else math.min(k.toLong, nCand).toInt
    CosineKnn.topK(query, candidates, kk, knownItemCount = nCand)
      .select(col("query_id").as("user_id"), col("item_id"), col("rank"))
  }
}
