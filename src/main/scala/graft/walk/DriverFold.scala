package graft.walk

import graft.knn.CosineKnn
import graft.model.Recommender
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

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

  def recommend(spark: SparkSession, k: Int, allRecs: Boolean): DataFrame = {
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
    users.foreach { case (user, vec) =>
      val seen = if (user == null) null else rated.get(user)
      val unrated = CosineKnn.scoreTopK(vec, vecs, norms, kPrime, Double.PositiveInfinity, _ => false)
        .iterator.map(_._2).filter(ix => seen == null || !seen.contains(ids(ix)))
      (if (allRecs) unrated else unrated.take(k)).zipWithIndex.foreach { case (ix, rank) =>
        rows.add(Row(user, ids(ix), rank + 1))
      }
    }
    spark.createDataFrame(rows, DriverFold.recsSchema)
  }

  /** The `(id: string, vec: array<double>)` tables
    * [[DeepWalkRecommender.knnRecommend]] reads. */
  def tables(spark: SparkSession): (DataFrame, DataFrame) = {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("vec", ArrayType(DoubleType, containsNull = false))))
    def table(rows: Seq[(String, Array[Double])]) =
      spark.createDataFrame(rows.map { case (id, v) => Row(id, v.toSeq) }.asJava, schema)
    (table(users), table(items))
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

/** The serving half of the embedding recommenders (DeepWalk/node2vec and
  * KGE): a fold that trained in the driver regime leaves a [[DriverFold]]
  * and recommends on the driver; a distributed fold leaves Spark
  * embedding tables and recommends through [[DeepWalkRecommender.knnRecommend]].
  * `train()` sets `trainDf` and exactly one of the two. */
private[graft] trait EmbeddingServing extends Recommender {
  protected def allRecs: Boolean
  protected var spark: SparkSession = _
  protected var trainDf: DataFrame = _
  protected var driver: DriverFold = _
  protected var userEmb: DataFrame = _ // (id, vec)
  protected var itemEmb: DataFrame = _

  /** Starts a fold's training: `train` is kept persisted as `trainDf`
    * (released in [[release]], or in [[serveOnDriver]]), and no
    * embeddings are held yet. */
  protected def beginTrain(spark: SparkSession, train: DataFrame): Unit = {
    this.spark = spark
    driver = null; userEmb = null; itemEmb = null
    trainDf = train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Ends a driver-regime fold's training: serving reads `fold` alone,
    * so the train cache is released now; [[recommendUser]] recomputes
    * `trainDf` from its lineage. */
  protected def serveOnDriver(fold: DriverFold): Unit = {
    driver = fold
    trainDf.unpersist(blocking = false)
  }

  override def recommend(k: Int): DataFrame =
    if (driver != null) driver.recommend(spark, k, allRecs)
    else DeepWalkRecommender.knnRecommend(trainDf, userEmb, itemEmb, k, allRecs)

  /** A driver fold builds its embedding tables here, on first use. */
  override def recommendUser(user: String, k: Int): DataFrame = {
    if (userEmb == null) { val (u, i) = driver.tables(spark); userEmb = u; itemEmb = i }
    DeepWalkRecommender.knnRecommendUser(trainDf, userEmb, itemEmb, user, k, allRecs)
  }

  override def release(): Unit =
    Seq(trainDf, userEmb, itemEmb).filter(_ != null).foreach(_.unpersist(blocking = false))
}
