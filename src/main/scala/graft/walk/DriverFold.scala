package graft.walk

import graft.graph.KGraph
import graft.knn.CosineKnn
import graft.model.Recommender
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A driver-regime fold's serving state: the user and item embeddings
  * and the train (user, item) pairs, as the driver arrays `train()`
  * built them from its one collect.
  *
  * [[recommend]] is [[DeepWalkRecommender.knnRecommend]] run on those
  * arrays: k' = min(maxRated + k, nItems) nearest items per user by
  * [[CosineKnn.scoreTopK]], rated items dropped, re-ranked to k. Items
  * are scored in Spark's id order (UTF-8 bytes, nulls first), so scores,
  * ranks and ties are the ones `CosineKnn.topK` → anti-join →
  * `row_number` gives, and the rows come back as one local table
  * without a Spark job.
  *
  * @param trainUsers the train rows' `user_id` cast to string, one per row
  * @param trainItems the train rows' `item_id` cast to string, aligned */
private[graft] final class DriverFold(users: Seq[(String, Array[Double])],
                                      items: Seq[(String, Array[Double])],
                                      trainUsers: Array[String], trainItems: Array[String]) {

  def recommend(spark: SparkSession, k: Int, allRecs: Boolean): DataFrame =
    rank(spark, users, k, allRecs)

  /** [[recommend]]'s rows for one user: its slice, ranked with the same
    * k' (the null user has no slice). */
  def recommendUser(spark: SparkSession, user: String, k: Int, allRecs: Boolean): DataFrame =
    rank(spark, users.filter(u => u._1 != null && u._1 == user), k, allRecs)

  private def rank(spark: SparkSession, queries: Seq[(String, Array[Double])], k: Int,
                   allRecs: Boolean): DataFrame = {
    // maxRated counts train rows per user, the null user included, as
    // the Spark path's groupBy does; a null id is never rated (anti-join)
    val counts = new java.util.HashMap[String, Integer]()
    val rated = new java.util.HashMap[String, java.util.HashSet[String]]()
    var r = 0
    while (r < trainUsers.length) {
      val u = trainUsers(r)
      counts.merge(u, 1, (a: Integer, b: Integer) => a + b)
      if (u != null && trainItems(r) != null)
        rated.computeIfAbsent(u, _ => new java.util.HashSet[String]()).add(trainItems(r))
      r += 1
    }
    var maxRated = 0
    counts.values.forEach(c => maxRated = math.max(maxRated, c))
    val byId = items.sortWith((a, b) => DriverFold.idOrder.lt(a._1, b._1))
    val ids = byId.map(_._1).toArray
    val vecs = byId.map(_._2).toArray
    val norms = vecs.map(CosineKnn.norm)
    val kPrime = if (allRecs) ids.length else math.min(maxRated.toLong + k, ids.length.toLong).toInt
    val rows = new java.util.ArrayList[Row]()
    queries.foreach { case (user, vec) =>
      val seen = if (user == null) null else rated.get(user)
      val unrated = CosineKnn.scoreTopK(vec, vecs, norms, kPrime, Double.PositiveInfinity, _ => false)
        .iterator.map(_._2).filter(ix => seen == null || !seen.contains(ids(ix)))
      (if (allRecs) unrated else unrated.take(k)).zipWithIndex.foreach { case (ix, rank) =>
        rows.add(Row(user, ids(ix), rank + 1))
      }
    }
    spark.createDataFrame(rows, DriverFold.recsSchema)
  }
}

private[graft] object DriverFold {
  /** Spark's string order: UTF-8 bytes (`UTF8String`), nulls first. */
  val idOrder: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** The schema of [[DeepWalkRecommender.knnRecommend]]'s rows. */
  val recsSchema: StructType = StructType(Seq(
    StructField("user_id", StringType), StructField("item_id", StringType),
    StructField("rank", IntegerType, nullable = false)))
}

/** A fold's label graph on the driver, from its one bounded collect.
  * `labels` is the node dictionary in Spark's string order (a label's
  * index is the `node_id` [[KGraph.relabel]] gives it) and `src`/`dst`
  * each edge's endpoints in it; `relations`/`rel` are the same for the
  * edge relations of a typed graph (KGE), empty for an untyped one.
  * `trainUsers`/`trainItems` are the rating edges' string ids, the
  * train pairs of [[DriverFold]]. */
private[graft] final case class DriverGraph(labels: Array[String], src: Array[Int], dst: Array[Int],
                                            relations: Array[String], rel: Array[Int],
                                            trainUsers: Array[String], trainItems: Array[String])

/** The train pipeline and serving of the embedding recommenders
  * (DeepWalk/node2vec and KGE), the reference's steps for both
  * (`deep_walk_based/model.py:50-122`, `transE/model.py:66-155`): label
  * the fold's graph, relabel it to ints, fit, map the embeddings back to
  * users and items, rank by cosine kNN. The regime follows the fold's
  * size alone. A fold whose label edges collect to the driver (at most
  * [[KGraph.MaxDriverEdges]] rows) and pass the model's size gate in
  * [[fitDriver]] serves `recommend` and `recommendUser` from a
  * [[DriverFold]], and never builds a Spark embedding table. Every other
  * fold relabels and encodes by joins, and [[fitDistributed]] gives the
  * (id, vec) tables [[DeepWalkRecommender.knnRecommend]] ranks. */
private[graft] trait EmbeddingServing extends Recommender {
  protected def allRecs: Boolean

  /** The relation of each rating edge in a typed graph, over the train
    * rows; None for an untyped graph. */
  protected def ratingRelation: Option[Column]

  /** The fold's non-rating label edges: (src_label, dst_label), plus
    * `relation` in a typed graph. */
  protected def otherEdges(propertyEdges: Option[DataFrame], socialEdges: Option[DataFrame]): Seq[DataFrame]

  /** False for a model with no driver fit: its folds skip the collect. */
  protected def hasDriverFit: Boolean = true

  override def readsLocalTables: Boolean = hasDriverFit

  /** The driver fit and split-back: (user, item) embedding rows, or None
    * when the model is over its driver size gate. */
  protected def fitDriver(g: DriverGraph): Option[(Seq[(String, Array[Double])], Seq[(String, Array[Double])])]

  /** The distributed fit and split-back: the (id, vec) user and item
    * tables. `nodes` and, in a typed graph, `relations` are
    * [[KGraph.relabel]]'s (label, node_id) vocabularies, `edges` is
    * (src, [rel,] dst) in their ids and `train` the fold's rating rows. */
  protected def fitDistributed(nodes: DataFrame, relations: DataFrame, edges: DataFrame,
                               train: DataFrame): (DataFrame, DataFrame)

  protected var spark: SparkSession = _
  private var trainDf: DataFrame = _
  private var driver: DriverFold = _
  private var userEmb: DataFrame = _ // (id, vec)
  private var itemEmb: DataFrame = _

  override def train(spark: SparkSession, trainRatings: DataFrame,
                     propertyEdges: Option[DataFrame], socialEdges: Option[DataFrame]): Recommender =
    fit(spark, trainRatings, propertyEdges, socialEdges, sizeGated = true)

  /** [[train]] in the distributed regime, whatever the fold's size. */
  private[graft] def trainDistributed(spark: SparkSession, trainRatings: DataFrame,
                                      propertyEdges: Option[DataFrame] = None,
                                      socialEdges: Option[DataFrame] = None): Recommender =
    fit(spark, trainRatings, propertyEdges, socialEdges, sizeGated = false)

  private def fit(spark: SparkSession, train: DataFrame, propertyEdges: Option[DataFrame],
                  socialEdges: Option[DataFrame], sizeGated: Boolean): Recommender = {
    this.spark = spark
    driver = null; userEmb = null; itemEmb = null
    // persist: train feeds the label edges here, then a distributed
    // fold's maxRated agg and anti-join; without it the (split-derived)
    // lineage re-derives per consumer. Released in release(), or as soon
    // as a driver fold has collected it. A local table is on the driver
    // already: persisting it would only make the collect build a cache.
    trainDf = if (Shim.isLocal(train)) train
      else train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val relation = ratingRelation.map(_ => "relation").toSeq
    val ratingEdges = train.select(Seq(lit("rating").as("kind"),
      KGraph.userLabel(col("user_id")).as("src_label"), KGraph.itemLabel(col("item_id")).as("dst_label"),
      col("user_id").cast("string").as("user"), col("item_id").cast("string").as("item")) ++
      ratingRelation.map(_.as("relation")): _*)
    val edges = otherEdges(propertyEdges, socialEdges)
      .map(e => e.select(Seq(lit("edge").as("kind"), col("src_label"), col("dst_label"),
        lit(null).cast("string").as("user"), lit(null).cast("string").as("item")) ++ relation.map(col): _*))
      .foldLeft(ratingEdges)(_ unionByName _)

    val onDriver = for {
      c <- if (sizeGated && hasDriverFit) KGraph.collectColumns(edges,
          Seq("kind", "src_label", "dst_label", "user", "item") ++ relation, KGraph.MaxDriverEdges)
        else None
      g = driverGraph(c)
      (users, items) <- fitDriver(g)
    } yield new DriverFold(users, items, g.trainUsers, g.trainItems)
    onDriver match {
      case Some(fold) =>
        driver = fold
        release()
        trainDf = null
      case None => fitSpark(edges.select(("src_label" +: relation :+ "dst_label").map(col): _*), relation.nonEmpty)
    }
    this
  }

  /** The collected (kind, src_label, dst_label, user, item[, relation])
    * columns as a [[DriverGraph]]. */
  private def driverGraph(c: Array[Array[String]]): DriverGraph = {
    val labels = KGraph.localRelabel(c(1), c(2))
    val node = KGraph.localEncoder(labels)
    val relation = c.lift(5).getOrElse(Array.empty[String])
    val relations = KGraph.localRelabel(relation)
    val rating = c(0).indices.filter(r => c(0)(r) == "rating").toArray
    DriverGraph(labels, node(c(1)), node(c(2)), relations, KGraph.localEncoder(relations)(relation),
      rating.map(c(3)), rating.map(c(4)))
  }

  /** The distributed regime over the (src_label, [relation,] dst_label)
    * edges: vocabularies by [[KGraph.relabel]], encoding joins, the fit,
    * then the materialized embedding tables. */
  private def fitSpark(edges: DataFrame, typed: Boolean): Unit = {
    val vocabs = (Seq(edges.select(col("src_label").as("label")).union(edges.select(col("dst_label").as("label")))) ++
      (if (typed) Seq(edges.select(col("relation").as("label"))) else Nil)).map(KGraph.relabel)
    val nodes = vocabs.head
    val keys = ("src_label", nodes, "src") +: vocabs.drop(1).map(("relation", _, "rel")) :+ (("dst_label", nodes, "dst"))
    val encoded = keys.foldLeft(edges) { case (df, (label, vocab, id)) =>
      df.join(vocab.withColumnRenamed("label", label), Seq(label)).withColumnRenamed("node_id", id)
    }.select(keys.map(key => col(key._3)): _*)
    val (users, items) = fitDistributed(nodes, vocabs.lift(1).orNull, encoded, trainDf)
    userEmb = users.cache()
    itemEmb = items.cache()
    // materialize the (small) embedding tables, then drop the
    // vocabularies: they only feed the joins above
    userEmb.count(); itemEmb.count()
    vocabs.foreach(_.unpersist(blocking = false))
  }

  override def recommend(k: Int): DataFrame =
    if (driver != null) driver.recommend(spark, k, allRecs)
    else DeepWalkRecommender.knnRecommend(trainDf, userEmb, itemEmb, k, allRecs)

  override def recommendUser(user: String, k: Int): DataFrame =
    if (driver != null) driver.recommendUser(spark, user, k, allRecs)
    else DeepWalkRecommender.knnRecommendUser(trainDf, userEmb, itemEmb, user, k, allRecs)

  override def release(): Unit =
    Seq(trainDf, userEmb, itemEmb).filter(df => df != null && !Shim.isLocal(df))
      .foreach(_.unpersist(blocking = false))
}
