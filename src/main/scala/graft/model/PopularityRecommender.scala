package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Non-personalized baseline: recommend the globally most-rated items
  * the user has not yet rated. Not present in the reference model zoo,
  * but exercises its whole recommendation spine (SURVEY §7 step 4):
  * candidate generation bounded by max_user_rated + k — the reference's
  * n_neighbors bound (`deep_walk_based/model.py:137-149`) — anti-join
  * against train ratings (J5) and per-user top-k window (W7).
  *
  * Scale shape: popularity is one partial-aggregated groupBy; the
  * candidate set is tiny (max_user_degree + k rows) and broadcast, so
  * the "cross join" is a broadcast nested loop over users — no shuffle
  * of the big side; the anti-join shuffles on (user_id, item_id) which
  * AQE can plan as broadcast when train fits.
  */
class PopularityRecommender(cfg: Map[String, String] = Map.empty) extends Recommender {
  override def name: String = "popularity"
  override def readsLocalTables: Boolean = true

  private var train: DataFrame = _

  override def train(spark: SparkSession, trainRatings: DataFrame,
                     propertyEdges: Option[DataFrame],
                     socialEdges: Option[DataFrame]): Recommender = {
    // the Spark plan reads train three times (popularity, degree bound,
    // anti-join): materialize once instead of re-deriving the upstream
    // join+agg. A local table is on the driver already.
    this.train =
      if (Shim.isLocal(trainRatings)) trainRatings
      else trainRatings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    this
  }

  override def recommend(k: Int): DataFrame =
    PopularityRecommender.recommend(train, k, allRecs = cfg.get("all_recs").contains("true"))

  override def release(): Unit =
    if (train != null && !Shim.isLocal(train)) train.unpersist(blocking = false)
}

object PopularityRecommender {
  /** (user_id, item_id, rank) of the top-k most popular unrated items.
    * `allRecs`: rank every unrated item (no candidate bound, no cutoff) —
    * deep_walk_based/model.py:75-86's all_recs mode. A local `train`
    * (`Shim.localRows`) whose ids are of `Shim.KeyTypes` is ranked on the
    * driver into a local table of the same rows; any other `train` takes
    * the Spark plan. The caller's frame is never persisted. */
  def recommend(train: DataFrame, k: Int, allRecs: Boolean = false): DataFrame =
    Some(train.select("user_id", "item_id"))
      .filter(_.schema.forall(f => Shim.KeyTypes(f.dataType)))
      .flatMap(Shim.localRows)
      .fold(sparkRecommend(train, k, allRecs))(localRecommend(train, _, k, allRecs))

  private def sparkRecommend(train: DataFrame, k: Int, allRecs: Boolean): DataFrame = {
    val pop = train.groupBy("item_id").agg(count(lit(1)).as("cnt"))
    // max #items any single user rated — bounds candidates exactly like
    // the reference bounds kNN n_neighbors (deep_walk_based/model.py:137-149)
    val maxRated = train.groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(max("c")).first().getLong(0)
    // orderBy+limit plans as TakeOrderedAndProject (parallel partial
    // top-N per partition), not the single-task unpartitioned
    // row_number window it replaces — same rows, same order semantics
    val cand = if (allRecs) pop else pop
      .orderBy(col("cnt").desc, col("item_id"))
      .limit(math.min(maxRated + k, Int.MaxValue.toLong).toInt)
    val users = train.select("user_id").distinct()
    val ranked = users.crossJoin(broadcast(cand))
      .join(train.select("user_id", "item_id"), Seq("user_id", "item_id"), "left_anti")
      .withColumn("rank",
        row_number().over(Window.partitionBy("user_id").orderBy(col("cnt").desc, col("item_id"))))
    (if (allRecs) ranked else ranked.filter(col("rank") <= k))
      .select("user_id", "item_id", "rank")
  }

  /** [[sparkRecommend]] on the driver over the (user_id, item_id) rows,
    * their ids grouped as Spark groups them (`Shim.keyValue`):
    * items by count descending, then by id in Spark's order; the first
    * maxRated + k of them are every user's candidates (the null user
    * included), minus the user's rated items (a null id rates nothing,
    * as in the anti-join), ranked 1..k. */
  private def localRecommend(train: DataFrame, trainRows: Seq[Row], k: Int, allRecs: Boolean): DataFrame = {
    val spark = train.sparkSession
    val itemField = train.schema("item_id")
    val rows = trainRows.map(r => Row(Shim.keyValue(r.get(0)), Shim.keyValue(r.get(1))))
    val pop = rows.groupBy(_.get(1)).map { case (item, rs) => Row(item, rs.size.toLong) }.toSeq
    val byPopularity = Shim.localRows(spark.createDataFrame(java.util.Arrays.asList(pop: _*),
        StructType(Seq(itemField, StructField("cnt", LongType, nullable = false))))
      .orderBy(col("cnt").desc, col("item_id"))).get.map(r => Shim.keyValue(r.get(0)))
    val byUser = rows.groupBy(_.get(0))
    val maxRated = byUser.valuesIterator.map(_.size.toLong).maxOption.getOrElse(0L)
    val cand = if (allRecs) byPopularity else byPopularity.take(math.min(maxRated + k, Int.MaxValue.toLong).toInt)
    val out = new java.util.ArrayList[Row]()
    byUser.foreach { case (user, rs) =>
      val rated = if (user == null) Set.empty[Any] else rs.map(_.get(1)).filter(_ != null).toSet
      val unrated = cand.iterator.filter(item => item == null || !rated(item))
      (if (allRecs) unrated else unrated.take(k)).zipWithIndex.foreach { case (item, rank) =>
        out.add(Row(user, item, rank + 1))
      }
    }
    spark.createDataFrame(out, StructType(Seq(train.schema("user_id"), itemField,
      StructField("rank", IntegerType, nullable = false))))
  }
}
