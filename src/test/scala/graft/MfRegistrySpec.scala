package graft

import graft.model.{Als, AlsImplicit, BprMf, Item2Vec, Recommenders}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The registry entries that serve one `recs` call over the train frame
  * (`als`, `als_implicit`, `bpr`, `item2vec`): each keeps its name and
  * its config keys' defaults, and its served table is released. */
class MfRegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ratings = (for { u <- 0 until 8; i <- 0 until 12 if (u + i) % 3 != 0 }
    yield (u.toLong, i.toLong, ((u * i) % 5 + 1).toDouble)).toDF("user_id", "item_id", "rating")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Each entry's model called directly with the defaults its config
    * keys have always had. */
  private val direct: Seq[(String, (SparkSession, DataFrame, Int, Boolean) => DataFrame)] = Seq(
    "als" -> ((s, r, k, pin) =>
      Als.recs(s, r, dim = 16, iters = 5, lambda = 0.1, seed = 42L, k = k, pinOrder = pin)),
    "als_implicit" -> ((s, r, k, pin) =>
      AlsImplicit.recs(s, r, dim = 16, iters = 5, lambda = 0.1, alpha = 40.0, seed = 42L, k = k,
        pinOrder = pin)),
    "bpr" -> ((s, r, k, pin) =>
      BprMf.recs(s, r, minRating = 4.0, dim = 16, epochs = 5, lr = 0.05, reg = 0.01, seed = 42L,
        k = k, pinOrder = pin)),
    "item2vec" -> ((s, r, k, pin) =>
      Item2Vec.recs(s, r, minRating = 4.0, dim = 32, window = 100, epochs = 3, lr = 0.025,
        negative = 5, seed = 42L, k = k, pinOrder = pin)))

  for ((name, call) <- direct) {
    test(s"registry entry $name: name, default config, release") {
      val empty = Recommenders.registry(name)(Map.empty)
      assert(empty.name == name)
      // an unpinned fit is not repeatable (Hogwild threads, partition-order
      // merges), so the values are compared with only pin_order set
      val pinned = Recommenders.registry(name)(Map("pin_order" -> "true"))
      val served = pinned.train(spark, ratings).recommend(3)
      val expected = call(spark, ratings, 3, true)
      assert(rows(served) == rows(expected))
      expected.unpersist()
      // the empty config runs the unpinned fit
      val unpinned = empty.train(spark, ratings).recommend(3)
      assert(unpinned.collect().map(_.getInt(2)).forall(rk => rk >= 1 && rk <= 3))
      for ((model, out) <- Seq(pinned -> served, empty -> unpinned)) {
        assert(out.storageLevel != StorageLevel.NONE)
        model.release()
        assert(out.storageLevel == StorageLevel.NONE)
        model.release()
      }
    }
  }
}
