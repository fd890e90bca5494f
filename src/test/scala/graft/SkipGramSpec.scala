package graft

import graft.walk.{DeepWalkRecommender, RandomWalks, SkipGram}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkipGramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Two 5-cliques bridged by a single edge — community structure any
    * sane embedding must recover. */
  private def twoCliqueWalks(nWalks: Int, walkLen: Int): Array[Array[Int]] = {
    val cliqueA = for (i <- 0 until 5; j <- 0 until 5 if i < j) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 5 until 10; j <- 5 until 10 if i < j) yield (i.toLong, j.toLong)
    val edges = (cliqueA ++ cliqueB :+ (4L, 5L)).toDF("src", "dst")
    val adj = RandomWalks.adjacency(edges)
    val walks = RandomWalks.randomWalks(spark, adj, adj.select($"node"), nWalks, walkLen, 42)
    walks.select($"path".cast("array<int>")).as[Seq[Int]].collect().map(_.toArray)
  }

  test("SGNS recovers community structure on a two-clique graph (M3)") {
    val sentences = twoCliqueWalks(nWalks = 30, walkLen = 8)
    val emb = SkipGram.fitLocal(sentences, vocabSize = 10, dim = 16, window = 4,
      epochs = 5, lr = 0.025, negative = 5, minCount = 0, seed = 42, threads = 1)
    assert(emb.forall(_ != null))
    // mean within-community cosine must clearly beat cross-community —
    // nodes 0-3 vs 6-9 (4 and 5 are the bridge endpoints, excluded)
    val within = for (i <- 0 to 3; j <- 0 to 3 if i < j) yield cosine(emb(i), emb(j))
    val within2 = for (i <- 6 to 9; j <- 6 to 9 if i < j) yield cosine(emb(i), emb(j))
    val across = for (i <- 0 to 3; j <- 6 to 9) yield cosine(emb(i), emb(j))
    val wMean = (within ++ within2).sum / (within.size + within2.size)
    val aMean = across.sum / across.size
    assert(wMean > aMean + 0.2,
      s"within-community cosine $wMean not separated from cross-community $aMean")
  }

  test("SGNS is bit-deterministic at threads=1 and seed-sensitive") {
    val sentences = twoCliqueWalks(nWalks = 5, walkLen = 6)
    def run(seed: Long) = SkipGram.fitLocal(sentences, 10, 8, 3, 2, 0.025, 5, 0, seed, 1)
    val a = run(42); val b = run(42); val c = run(7)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x, y) })
  }

  test("minCount drops rare tokens from the output vocabulary") {
    // token 3 appears once; 0-2 appear many times
    val sentences = Array.fill(20)(Array(0, 1, 2, 0, 1, 2)) :+ Array(0, 3)
    val emb = SkipGram.fitLocal(sentences, vocabSize = 4, dim = 4, window = 2,
      epochs = 1, lr = 0.025, negative = 2, minCount = 2, seed = 1, threads = 1)
    assert(emb(3) == null)
    assert(emb(0) != null && emb(1) != null && emb(2) != null)
  }

  test("multithreaded training still separates the cliques (Hogwild)") {
    val sentences = twoCliqueWalks(nWalks = 30, walkLen = 8)
    val emb = SkipGram.fitLocal(sentences, 10, 16, 4, 5, 0.025, 5, 0, 42, threads = 4)
    val within = for (i <- 0 to 3; j <- 0 to 3 if i < j) yield cosine(emb(i), emb(j))
    val across = for (i <- 0 to 3; j <- 6 to 9) yield cosine(emb(i), emb(j))
    assert(within.sum / within.size > across.sum / across.size + 0.2)
  }

  test("distributed trainer recovers community structure (replica averaging)") {
    val sentenceRows = twoCliqueWalks(nWalks = 30, walkLen = 8).toSeq
      .map(s => Tuple1(s.map(_.toLong).toSeq)).toDF("path")
    val embDf = SkipGram.fitDistributed(spark, sentenceRows, vocabSize = 10, dim = 16,
      window = 4, epochs = 5, lr = 0.025, numPartitions = 4)
    val emb = embDf.collect().map(r => r.getLong(0).toInt -> r.getSeq[Double](1).map(_.toFloat).toArray).toMap
    assert(emb.size == 10)
    val within = for (i <- 0 to 3; j <- 0 to 3 if i < j) yield cosine(emb(i), emb(j))
    val across = for (i <- 0 to 3; j <- 6 to 9) yield cosine(emb(i), emb(j))
    assert(within.sum / within.size > across.sum / across.size + 0.2,
      s"within ${within.sum / within.size} vs across ${across.sum / across.size}")
  }

  test("distributed trainer drops sub-minCount tokens like the local one") {
    val sentenceRows = (Seq.fill(20)(Seq(0L, 1L, 2L, 0L, 1L, 2L)) :+ Seq(0L, 3L))
      .map(Tuple1(_)).toDF("path")
    val emb = SkipGram.fitDistributed(spark, sentenceRows, vocabSize = 4, dim = 4,
      window = 2, epochs = 1, lr = 0.025, negative = 2, minCount = 2, numPartitions = 2)
    val ids = emb.select("node_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L))
  }

  test("DeepWalkRecommender local trainer end-to-end matches the recommend contract") {
    val train = Seq(
      (1L, 10L, 5.0), (1L, 11L, 4.0), (2L, 10L, 5.0), (2L, 12L, 3.0),
      (3L, 11L, 4.0), (3L, 12L, 2.0), (4L, 10L, 1.0), (4L, 13L, 5.0)
    ).toDF("user_id", "item_id", "rating")
    val rec = new DeepWalkRecommender(Map(
      "n_walks" -> "10", "walk_len" -> "6", "embedding_size" -> "8",
      "epochs" -> "2", "seed" -> "42", "w2v_threads" -> "1"))
      .train(spark, train, None)
    val recs = rec.recommend(2)
    // nobody is recommended an item they already rated; ranks are 1..k
    val joined = recs.join(train,
      recs("user_id") === train("user_id") && recs("item_id") === train("item_id"))
    assert(joined.count() == 0)
    val ranks = recs.groupBy("user_id").agg(collect_list("rank").as("rk"))
      .select("rk").as[Seq[Int]].collect()
    ranks.foreach(r => assert(r.sorted == (1 to r.size).toList))
    assert(recs.count() > 0)
    rec.release()
  }

  test("embedding recommendUser == per-user slice of recommend (pushed-down query side)") {
    // the override filters the query embedding BEFORE CosineKnn.topK —
    // one scored row at any dispatch tier — and must stay row-identical
    // to slicing the full ranking (k' = maxRated + k guarantees enough
    // unrated survivors; all kernels tie-break (score desc, item_id))
    val train = Seq(
      (1L, 10L, 5.0), (1L, 11L, 4.0), (2L, 10L, 5.0), (2L, 12L, 3.0),
      (3L, 11L, 4.0), (3L, 12L, 2.0), (4L, 10L, 1.0), (4L, 13L, 5.0)
    ).toDF("user_id", "item_id", "rating")
    // each model in the driver regime (ranked on driver arrays) and in
    // the distributed one (knnRecommendUser)
    val recs: Seq[graft.model.Recommender] = Seq(
      () => new DeepWalkRecommender(Map(
        "n_walks" -> "6", "walk_len" -> "6", "embedding_size" -> "8",
        "epochs" -> "2", "seed" -> "42", "w2v_threads" -> "1")),
      () => new graft.kge.KgeRecommender(Map(
        "model" -> "transE", "embedding_dim" -> "8", "epochs" -> "2", "seed" -> "42"))
    ).flatMap(make => Seq(make().train(spark, train), make().trainDistributed(spark, train)))
    for (rec <- recs; u <- Seq("2", "4")) {
      val slice = rec.recommend(2).filter($"user_id" === u)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val single = rec.recommendUser(u, 2)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(single == slice && single.nonEmpty, s"user $u mismatch: $single vs $slice")
    }
    recs.foreach(_.release())
  }

  test("pin_order + threads=1 makes DeepWalk recs invariant to input partitioning") {
    // the golden-parquet oracle contract for q40: the same seed must
    // produce the identical (user_id, item_id, rank) set no matter how
    // the input happens to be partitioned (sessions differ in
    // parallelism; collect order is partition order without the pin)
    val train = Seq(
      (1L, 10L, 5.0), (1L, 11L, 4.0), (2L, 10L, 5.0), (2L, 12L, 3.0),
      (3L, 11L, 4.0), (3L, 12L, 2.0), (4L, 10L, 1.0), (4L, 13L, 5.0),
      (5L, 11L, 2.0), (5L, 13L, 4.0), (6L, 12L, 5.0), (6L, 10L, 2.0)
    ).toDF("user_id", "item_id", "rating")
    val cfg = Map(
      "n_walks" -> "4", "walk_len" -> "6", "embedding_size" -> "8",
      "epochs" -> "2", "seed" -> "42", "w2v_threads" -> "1", "pin_order" -> "true")
    def run(in: org.apache.spark.sql.DataFrame) = {
      val rec = new DeepWalkRecommender(cfg).train(spark, in, None)
      val out = rec.recommend(3).select("user_id", "item_id", "rank")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      rec.release(); out
    }
    val a = run(train.repartition(1))
    val b = run(train.repartition(7))
    assert(a == b && a.nonEmpty)
  }

  test("DeepWalkRecommender distributed trainer wires end-to-end") {
    val train = Seq(
      (1L, 10L, 5.0), (1L, 11L, 4.0), (2L, 10L, 5.0), (2L, 12L, 3.0),
      (3L, 11L, 4.0), (3L, 12L, 2.0)
    ).toDF("user_id", "item_id", "rating")
    def make() = new DeepWalkRecommender(Map(
      "n_walks" -> "5", "walk_len" -> "5", "embedding_size" -> "8",
      "epochs" -> "1", "seed" -> "42", "w2v_partitions" -> "2"))
    val rec = make().trainDistributed(spark, train)
    val recs = rec.recommend(2)
    assert(recs.count() > 0)
    assert(recs.join(train,
      recs("user_id") === train("user_id") && recs("item_id") === train("item_id")).count() == 0)
    // the same fold in the driver regime gives every user a list as long
    def lists(r: graft.model.Recommender) = r.recommend(2).collect()
      .groupBy(_.getAs[String]("user_id")).map { case (u, rs) => u -> rs.length }
    val driver = make().train(spark, train)
    assert(lists(rec) == lists(driver))
    Seq(rec, driver).foreach(_.release())
  }
}
