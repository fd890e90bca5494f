package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's model contract
  * (`framework/recommender/recommender.py:11-31`): train on the graph,
  * emit top-k recommendations per user. Re-expressed relationally:
  * train consumes the training rating edges (+ optional property
  * edges), recommend emits (user_id, item_id, rank).
  *
  * The reference's extension point is a name->class registry resolved
  * with importlib (`framework/recommender/model2class.py:1-42`); here
  * it is [[Recommenders.registry]], a name -> factory map.
  */
trait Recommender {
  def name: String

  /** Fit on training edges; returns a fitted instance (may be `this`).
    *
    * `propertyEdges`: (src_label, relation, dst_label) User/Item→Property
    * edges — part of the KG triples export (graph.py:79-109).
    * `socialEdges`: (src_label, relation, dst_label) User–User edges
    * (graph.py:304-314) — they enter the WALK graph but are excluded
    * from `get_all_triples`, so KGE models must ignore them. */
  def train(spark: SparkSession, trainRatings: DataFrame,
            propertyEdges: Option[DataFrame] = None,
            socialEdges: Option[DataFrame] = None): Recommender

  /** Top-k per user: (user_id, item_id, rank), rank 1-based, never
    * recommending an item the user already rated in train (the J5
    * anti-join, deep_walk_based/model.py:69-77). */
  def recommend(k: Int): DataFrame

  /** Single-user recommendation (`get_user_recommendation`,
    * recommender.py:30-31; deep_walk_based/model.py:84-103): the
    * per-user slice of [[recommend]]. This default filters the full
    * ranking — fine for fully relational models, where Catalyst pushes
    * the user_id filter below the ranking window. Models whose scoring
    * kernel is an opaque RDD (the embedding recommenders) override it to
    * filter the query side BEFORE the kernel, so a single-user call
    * scores one row instead of every user. */
  def recommendUser(user: String, k: Int): DataFrame =
    recommend(k).filter(org.apache.spark.sql.functions.col("user_id") ===
      org.apache.spark.sql.functions.lit(user))

  /** Whether `train` reads a local train table in place, on the driver
    * (`Shim.localRows`, which folds the table's plan there). The
    * experiment hands a model that does not a cached Spark copy of a
    * local fold instead. */
  def readsLocalTables: Boolean = false

  /** Release any persisted training state (embedding tables, vocab
    * caches). Called by the Experiment loop after a fold's metrics are
    * final — per-fold models otherwise accumulate storage for the whole
    * session. Safe to call more than once; default is a no-op. */
  def release(): Unit = ()
}

/** The registry adapter of a model whose recommendations are one call
  * over the train frame (the MF family and item2vec): `train` remembers
  * the frame, `recommend` computes `recs(spark, train, k)` (persisted by
  * the model), and `release` unpersists it. */
class FrameRecommender(val name: String, recs: (SparkSession, DataFrame, Int) => DataFrame)
    extends Recommender {
  private var sparkRef: SparkSession = _
  private var trainRef: DataFrame = _
  private var served: Option[DataFrame] = None

  def train(spark: SparkSession, trainRatings: DataFrame,
            propertyEdges: Option[DataFrame] = None,
            socialEdges: Option[DataFrame] = None): Recommender = {
    sparkRef = spark; trainRef = trainRatings; this
  }

  def recommend(k: Int): DataFrame = {
    val out = recs(sparkRef, trainRef, k)
    served = Some(out)
    out
  }

  override def release(): Unit = {
    served.foreach(_.unpersist(blocking = false)); served = None
  }
}

object Recommenders {
  type Factory = Map[String, String] => Recommender

  /** name -> factory, mirroring model2class.py. Config is a flat
    * string map (the YAML `parameters` block); each entry reads its own
    * keys, with their defaults. */
  def registry: Map[String, Factory] = Map[String, Factory](
    "popularity" -> (cfg => new PopularityRecommender(cfg)),
    "bpr" -> (cfg => new FrameRecommender("bpr", (spark, train, k) =>
      BprMf.recs(spark, train,
        minRating = cfg.getOrElse("min_rating", "4.0").toDouble,
        dim = cfg.getOrElse("embedding_dim", "16").toInt,
        epochs = cfg.getOrElse("epochs", "5").toInt,
        lr = cfg.getOrElse("lr", "0.05").toDouble,
        reg = cfg.getOrElse("reg", "0.01").toDouble,
        seed = cfg.getOrElse("seed", "42").toLong,
        k = k,
        pinOrder = cfg.getOrElse("pin_order", "false").toBoolean))),
    "als" -> (cfg => new FrameRecommender("als", (spark, train, k) =>
      Als.recs(spark, train,
        dim = cfg.getOrElse("embedding_dim", "16").toInt,
        iters = cfg.getOrElse("iters", "5").toInt,
        lambda = cfg.getOrElse("lambda", "0.1").toDouble,
        seed = cfg.getOrElse("seed", "42").toLong,
        k = k,
        pinOrder = cfg.getOrElse("pin_order", "false").toBoolean))),
    "als_implicit" -> (cfg => new FrameRecommender("als_implicit", (spark, train, k) =>
      AlsImplicit.recs(spark, train,
        dim = cfg.getOrElse("embedding_dim", "16").toInt,
        iters = cfg.getOrElse("iters", "5").toInt,
        lambda = cfg.getOrElse("lambda", "0.1").toDouble,
        alpha = cfg.getOrElse("alpha", "40.0").toDouble,
        seed = cfg.getOrElse("seed", "42").toLong,
        k = k,
        pinOrder = cfg.getOrElse("pin_order", "false").toBoolean))),
    "item2vec" -> (cfg => new FrameRecommender("item2vec", (spark, train, k) =>
      Item2Vec.recs(spark, train,
        minRating = cfg.getOrElse("min_rating", "4.0").toDouble,
        dim = cfg.getOrElse("embedding_dim", "32").toInt,
        window = cfg.getOrElse("window", "100").toInt,
        epochs = cfg.getOrElse("epochs", "3").toInt,
        lr = cfg.getOrElse("lr", "0.025").toDouble,
        negative = cfg.getOrElse("negative", "5").toInt,
        seed = cfg.getOrElse("seed", "42").toLong,
        k = k,
        pinOrder = cfg.getOrElse("pin_order", "false").toBoolean)))
  ) ++ graft.walk.DeepWalkRecommender.registry ++ graft.kge.KgeRecommender.registry
}
