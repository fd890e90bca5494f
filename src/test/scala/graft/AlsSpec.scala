package graft

import graft.model.{Als, AlsImplicit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AlsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Rank-2 planted matrix: r(u,i) = rowA(u)·colA(i) + rowB(u)·colB(i),
    * observed on ~70% of cells. ALS at dim 2 must reconstruct the
    * held-out cells accurately. */
  private def planted = {
    def rowA(u: Int) = 1.0 + (u % 3); def rowB(u: Int) = (u % 2).toDouble
    def colA(i: Int) = 0.5 + (i % 4) * 0.5; def colB(i: Int) = (i % 3).toDouble
    val all = for { u <- 0 until 12; i <- 0 until 15 }
      yield (u, i, rowA(u) * colA(i) + rowB(u) * colB(i))
    val (held, obs) = all.partition { case (u, i, _) => (u * 7 + i) % 10 == 0 }
    (obs, held)
  }

  test("ALS reconstructs a planted rank-2 matrix (held-out RMSE small)") {
    val (obs, held) = planted
    val m = new Als(dim = 2, iters = 8, lambda = 0.01, seed = 42L)
    val (p, q) = m.fit(spark, obs.toDF("u", "i", "r"), 12, 15)
    def pred(u: Int, i: Int) =
      (0 until 2).map(s => p(u)(s).toDouble * q(i)(s)).sum
    val rmse = math.sqrt(held.map { case (u, i, r) =>
      val e = pred(u, i) - r; e * e }.sum / held.size)
    assert(rmse < 0.05, s"held-out rmse=$rmse")
  }

  test("driver and distributed tiers solve the same factors (seam-pinned parity)") {
    val d = 3
    class Pinned extends Als(d, 3, 0.05, 42L) {
      private def v(id: Int, slot: Int): Float = (((id * 31 + slot * 7) % 13) - 6) / 24.0f
      override protected def initItemArrays(nItems: Int) =
        Array.tabulate(nItems)(id => Array.tabulate(d)(s => v(id, s)))
      override protected def initItemTable(spark: org.apache.spark.sql.SparkSession,
                                           nItems: Int) = {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("id", IntegerType, nullable = false),
          StructField("vec", ArrayType(FloatType, containsNull = false))))
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            initItemArrays(nItems).toIndexedSeq.zipWithIndex.map {
              case (vec, id) => org.apache.spark.sql.Row(id, vec.toIndexedSeq) }, 2),
          schema)
      }
    }
    val (obs, _) = planted
    val df = obs.toDF("u", "i", "r")
    val (pArr, qArr) = new Pinned().fit(spark, df, 12, 15)
    val (pDf, qDf) = new Pinned().fitDistributed(spark, df, 12, 15)
    def toMap(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    val pD = toMap(pDf); val qD = toMap(qDf)
    assert(pArr.exists(_.exists(x => math.abs(x) > 1e-3f)), "no parameter moved")
    def close(a: Array[Float], b: Array[Float], what: String): Unit =
      a.indices.foreach(i => assert(math.abs(a(i) - b(i)) < 1e-4f,
        s"$what[$i]: ${a(i)} vs ${b(i)}"))
    pArr.indices.foreach(id => close(pArr(id), pD(id), s"p[$id]"))
    qArr.indices.foreach(id => close(qArr(id), qD(id), s"q[$id]"))
  }

  test("pinOrder fits are bit-identical across repeated runs") {
    val (obs, _) = planted
    val df = obs.toDF("u", "i", "r").repartition(5)
    val (p1, q1) = new Als(4, 3, 0.1, 7L, pinOrder = true).fit(spark, df, 12, 15)
    val (p2, q2) = new Als(4, 3, 0.1, 7L, pinOrder = true).fit(spark, df, 12, 15)
    assert(p1.zip(p2).forall { case (a, b) => a.sameElements(b) })
    assert(q1.zip(q2).forall { case (a, b) => a.sameElements(b) })
  }

  test("recs contract: ranks 1..k, rated items excluded") {
    val ratings = (for { u <- 0 until 8; i <- 0 until 12 if (u + i) % 3 != 0 }
      yield (u.toLong, i.toLong, ((u * i) % 5 + 1).toDouble)).toDF("user_id", "item_id", "rating")
    val out = Als.recs(spark, ratings, dim = 3, iters = 3, lambda = 0.1,
      seed = 42L, k = 3, pinOrder = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val seen = ratings.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty)
    out.foreach { case (u, i, rk) =>
      assert(rk >= 1 && rk <= 3)
      assert(!seen((u, i)), s"recommended rated item $i to $u")
    }
  }

  test("a pair whose only ratings are null is no observation and is never recommended") {
    val rated = for { u <- 0 until 8; i <- 0 until 12 if (u + i) % 3 != 0 }
      yield (u.toLong, i.toLong, Option(((u * i) % 5 + 1).toDouble))
    // user 0 and item 0 have other ratings, (0, 0) only a null one; (1, 0)
    // has a null rating next to a number
    val clean = rated.toDF("user_id", "item_id", "rating")
    val withNull = (rated ++ Seq((0L, 0L, None), (1L, 0L, None))).toDF("user_id", "item_id", "rating")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    for ((name, recs) <- Seq[(String, (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame)](
        "als" -> ((df, k) => Als.recs(spark, df, dim = 3, iters = 3, lambda = 0.1, seed = 42L, k = k,
          pinOrder = true)),
        "als_implicit" -> ((df, k) => AlsImplicit.recs(spark, df, dim = 3, iters = 3, lambda = 0.1,
          alpha = 20.0, seed = 42L, k = k, pinOrder = true)))) {
      val got = rows(recs(withNull, 3))
      // the same fit as without the null rows; user 0's list skips item 0
      val ref = rows(recs(clean, 4))
      val user0 = ref.filter(r => r._1 == 0L && r._2 != 0L).sortBy(_._3).take(3)
        .zipWithIndex.map { case ((u, i, _), j) => (u, i, j + 1) }
      assert(got.sorted == (ref.filter(r => r._1 != 0L && r._3 <= 3) ++ user0).sorted, name)
    }
  }
}
