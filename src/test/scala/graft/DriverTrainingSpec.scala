package graft

import graft.graph.KGraph
import graft.kge.{KgeRecommender, KgeTrainer}
import graft.model.Recommender
import graft.walk.{DeepWalkRecommender, RandomWalks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver regime of the KGE and DeepWalk recommenders: a small fold
  * is collected once and trained on driver arrays. Its dictionary, walks
  * and train split must equal what the Spark regime computes, and it
  * must start one job and leave no cache behind. */
class DriverTrainingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ratings = Seq(
    (1L, 10L, 5.0), (1L, 11L, 4.0), (2L, 10L, 5.0), (2L, 12L, 3.0),
    (3L, 11L, 4.0), (3L, 12L, 2.0), (4L, 10L, 1.0), (4L, 13L, 5.0),
    (5L, 11L, 2.0), (5L, 13L, 4.0), (6L, 12L, 5.0), (6L, 10L, 2.0)
  ).toDF("user_id", "item_id", "rating")

  private val props = Seq(
    ("Item(10)", "has", "Property(P1, subject)"), ("Item(12)", "has", "Property(P1, subject)"),
    ("User(3)", "is", "Property(CA, country)")
  ).toDF("src_label", "relation", "dst_label")

  test("driver dictionary ids equal KGraph.relabel ids, in UTF-8 (not UTF-16) order") {
    // U+FF5E sorts before U+1F600 by UTF-8 bytes (EF.. < F0..) but after
    // its surrogate pair by UTF-16 units (FF5E > D83D)
    val labels = Array("Item(～)", "Item(😀)", "Item(2)", "Item(10)",
      "User(1)", "Property(é, x)", "Property(e, x)", "Item(2)")
    val viaSpark = KGraph.relabel(labels.toSeq.toDF("label")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = KGraph.localRelabel(labels)
    assert(local.zipWithIndex.map { case (l, i) => l -> i.toLong }.toMap == viaSpark)
    assert(local.indexOf("Item(～)") < local.indexOf("Item(😀)"))
    assert(local.toSeq != labels.distinct.sorted.toSeq, "the case must separate UTF-8 from UTF-16 order")
  }

  test("collectColumns returns every row once, or None past the bound") {
    val df = (1 to 50).map(i => (s"a${i % 7}", if (i % 5 == 0) null else s"b$i")).toDF("x", "y")
      .repartition(3)
    val Some(Array(x, y)) = KGraph.collectColumns(df, Seq("x", "y"), 50)
    assert(x.zip(y).toSeq.sortBy(_.toString) ==
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_.toString))
    assert(KGraph.collectColumns(df, Seq("x", "y"), 49).isEmpty)
  }

  test("collectColumns ships no row when every partition is under the bound but the frame is over it") {
    val wide = "w" * 20000
    val df = (1 to 120).map(i => (s"$wide$i", "y")).toDF("x", "y").repartition(4).persist()
    assert(df.count() == 120 && df.rdd.getNumPartitions == 4)
    var out: Option[Array[Array[String]]] = Some(Array.empty)
    // 30 rows a partition, each under the bound of 100 and over its share
    // of 25; shipped, one partition alone would be 600 kB of results
    val jobs = JobWatch.jobs(spark) { out = KGraph.collectColumns(df, Seq("x", "y"), 100) }
    assert(out.isEmpty)
    assert(jobs.size == 1 && jobs.head.resultBytes < 2 * wide.length, jobs)
    df.unpersist()
  }

  test("collectColumns fetches a partition over its share when the frame is under the bound") {
    val big = (1 to 40).map(i => (s"b$i", "y")).toDF("x", "y").coalesce(1)
    val small = (1 to 10).map(i => (s"s$i", "y")).toDF("x", "y").repartition(2)
    val df = big.union(small).persist()
    assert(df.count() == 50 && df.rdd.getNumPartitions == 3)
    var out: Option[Array[Array[String]]] = None
    // partitions of 40, 5 and 5 rows; shares of 16: the first is refetched
    val jobs = JobWatch.jobs(spark) { out = KGraph.collectColumns(df, Seq("x", "y"), 50) }
    assert(out.get(0).sorted.toSeq == df.collect().map(_.getString(0)).sorted.toSeq)
    assert(jobs.size == 2)
    df.unpersist()
  }

  test("labelIdExtractor keeps regexp_extract semantics") {
    val labels = Seq("User(7)", "User()", "User(a(b))", "User(x\ny)", "Item(3)")
    val viaSpark = labels.toDF("label")
      .select(regexp_extract(col("label"), "^User\\((.*)\\)$", 1)).as[String].collect().toSeq
    assert(labels.map(KGraph.labelIdExtractor("User")) == viaSpark)
  }

  test("driver walks equal RandomWalks.randomWalks and biasedWalks row for row") {
    val edges = Seq((0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (1, 1), (6, 4), (0, 1))
    val src = edges.map(_._1).toArray; val dst = edges.map(_._2).toArray
    val adjDf = RandomWalks.adjacency(edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"))
    val adj = RandomWalks.driverAdjacency(7, src, dst)
    assert(adj.toSeq.map(_.toSeq) == adjDf.orderBy("node").select("nbrs").as[Seq[Long]].collect().toSeq)
    def rows(walks: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
      walks.orderBy("start", "walk_idx").select("path").as[Seq[Long]].collect().toSeq
    val nodes = adjDf.select("node")
    assert(RandomWalks.driverWalks(adj, 3, 7, RandomWalks.uniformStep(11L)).toSeq.map(_.toSeq) ==
      rows(RandomWalks.randomWalks(spark, adjDf, nodes, 3, 7, 11L)))
    assert(RandomWalks.driverWalks(adj, 3, 7, RandomWalks.biasedStep(0.5, 2.0, 11L))
      .toSeq.map(_.toSeq) == rows(RandomWalks.biasedWalks(spark, adjDf, nodes, 3, 7, 0.5, 2.0, 11L)))
  }

  test("driver train split replays the Spark xxhash64 filter") {
    val tr = new KgeTrainer("transE", 4, 1, 0.1, 1.0, 42L, trainFraction = 0.6)
    val triples = (0 until 2000).map(i => (i % 97, i % 5, (i * 31) % 211))
    val viaSpark = triples.toDF("h", "r", "t")
      .filter(pmod(xxhash64(col("h"), col("r"), col("t"), lit(42L)), lit(10000L)) < lit(6000L))
      .as[(Int, Int, Int)].collect().toSet
    assert(triples.filter { case (h, r, t) => tr.inTrainSplit(h, r, t) }.toSet == viaSpark)
    assert(viaSpark.size > 1000 && viaSpark.size < 1400)
  }

  test("unpinned driver KGE fits are deterministic across runs") {
    val (h, r, t) = (Array(0, 1, 2, 3, 0, 2), Array(0, 0, 1, 1, 1, 0), Array(4, 5, 4, 5, 5, 5))
    def fit() = new KgeTrainer("distMult", 4, 3, 0.1, 1.0, 42L, trainFraction = 1.0)
      .fitLocal(h, r, t, 6, 2, threads = 3)._1.map(_.toSeq).toSeq
    assert(fit() == fit())
  }

  test("a KGE fold through trainDistributed matches the driver's list lengths") {
    val train = ratings.repartition(3).persist()
    train.count()
    def make() = new KgeRecommender(Map("model" -> "transE", "embedding_dim" -> "4", "epochs" -> "1"))
    val rec = make()
    // fitDistributed runs jobs per epoch; the driver regime runs one
    assert(JobWatch.jobs(spark)(rec.trainDistributed(spark, train)).size > 1)
    def lists(r: Recommender) = r.recommend(2).collect()
      .groupBy(_.getAs[String]("user_id")).map { case (u, rs) => u -> rs.length }
    val driver = make().train(spark, train, None, None)
    assert(lists(rec) == lists(driver))
    Seq(rec, driver).foreach(_.release())
    train.unpersist()
  }

  test("w2v_impl accepts only auto and mllib; any other value names itself and the allowed set") {
    assert(new DeepWalkRecommender(Map("w2v_impl" -> "auto")).name.nonEmpty)
    for (bad <- Seq("local", "distributed", "mlib", "")) {
      val e = intercept[IllegalArgumentException](new DeepWalkRecommender(Map("w2v_impl" -> bad)))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("auto, mllib"), e.getMessage)
    }
  }

  test("w2v_impl: mllib trains a DeepWalk fold on MLlib Word2Vec: at most k unrated recs per train user") {
    val k = 2
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rec = new DeepWalkRecommender(Map("w2v_impl" -> "mllib", "n_walks" -> "4", "walk_len" -> "6",
      "embedding_size" -> "8", "w2v_partitions" -> "1"))
    // the distributed regime runs many jobs; the driver regime runs one
    assert(JobWatch.jobs(spark)(rec.train(spark, ratings, Some(props), None)).size > 1)
    val recs = rec.recommend(k).collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[String]("item_id")))
    val rated = ratings.collect().map(r => (r.getLong(0).toString, r.getLong(1).toString)).toSet
    assert(recs.map(_._1).toSet == rated.map(_._1))
    assert(recs.groupBy(_._1).values.forall(_.length <= k))
    assert(recs.forall(r => !rated(r)))
    rec.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  private val cases: Seq[(String, () => Recommender, Option[org.apache.spark.sql.DataFrame])] = Seq(
    ("transE", () => new KgeRecommender(Map("model" -> "transE", "embedding_dim" -> "8",
      "epochs" -> "2", "triples" -> "all")), Some(props)),
    ("tuckER", () => new KgeRecommender(Map("model" -> "tuckER", "embedding_dim" -> "4",
      "epochs" -> "2", "pin_order" -> "true")), None),
    ("deepwalk", () => new DeepWalkRecommender(Map("n_walks" -> "4", "walk_len" -> "6",
      "embedding_size" -> "8")), Some(props)),
    ("node2vec", () => new DeepWalkRecommender(Map("biased" -> "true", "p" -> "0.5", "q" -> "2.0",
      "n_walks" -> "4", "walk_len" -> "6", "embedding_size" -> "8")), None))

  cases.foreach { case (name, make, edges) =>
    test(s"$name: train() on a small graph starts one Spark job") {
      val train = ratings.repartition(3).persist()
      train.count()
      val rec = make()
      assert(JobWatch.descriptions(spark)(rec.train(spark, train, edges, None)).size == 1)
      rec.release()
      train.unpersist()
    }

    test(s"$name: no persisted RDD is left after release()") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rec = make().train(spark, ratings, edges, None)
      assert(rec.recommend(2).count() > 0)
      rec.release()
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    }

    test(s"$name: a driver-regime fold holds no cache once train() returns") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rec = make().train(spark, ratings, edges, None)
      try assert(spark.sparkContext.getPersistentRDDs.keySet == before)
      finally rec.release()
    }
  }
}
