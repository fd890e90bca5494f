package graft

import graft.eval.Metrics
import graft.kge.KgeRecommender
import graft.knn.CosineKnn
import graft.report.Reporter
import graft.walk.{DeepWalkRecommender, DriverFold}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.funsuite.AnyFunSuite

/** Serving a driver-regime fold on the driver: top-k from the embedding
  * arrays, MAP/nDCG from bounded collects and the report pivot from
  * local rows must give the rows and values of the Spark paths they
  * replace, and a small fold's train + recommend + eval must start at
  * most two Spark jobs. */
class DriverServingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Random embeddings with exact score ties (repeated vectors), zero
    * vectors, and ids whose UTF-16 order differs from their UTF-8 order;
    * user u0 rated every item, the others a random few. */
  private def randomFold(seed: Int, nUsers: Int, nItems: Int): Fold = {
    val rnd = new scala.util.Random(seed)
    def vec() = Array.fill(6)(rnd.nextGaussian())
    val shared = vec()
    val users = (0 until nUsers).map(u => s"u$u" -> (if (u == 3) Array.fill(6)(0.0) else vec()))
    val itemIds = (0 until nItems).map(i => i % 4 match {
      case 0 => s"i$i～"; case 1 => s"i$i😀"; case _ => s"i$i"
    })
    val items = itemIds.zipWithIndex.map { case (id, i) =>
      id -> (if (i % 5 == 0) shared.clone() else if (i == 7) Array.fill(6)(0.0) else vec())
    }
    val pairs = itemIds.map("u0" -> _) ++ (1 until nUsers).flatMap(u =>
      rnd.shuffle(itemIds).take(rnd.nextInt(4)).map(s"u$u" -> _))
    Fold(new DriverFold(users, items, pairs.map(_._1).toArray, pairs.map(_._2).toArray),
      table(users), table(items), pairs.toDF("user_id", "item_id"))
  }

  /** A driver fold and the same fold as Spark tables: the (id, vec)
    * embeddings and the train pairs. */
  private case class Fold(driver: DriverFold, users: DataFrame, items: DataFrame, train: DataFrame)

  private def table(rows: Seq[(String, Array[Double])]): DataFrame =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")

  private def rows(df: DataFrame): Seq[(String, String, Int)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sortBy(r => (r._1, r._3))

  /** `knnRecommend`'s plan with the top-k kernel called directly: the
    * fused one or the shuffle-combine one. */
  private def sparkRecs(fold: Fold, k: Int, allRecs: Boolean, fused: Boolean): DataFrame = {
    val Fold(_, users, items, train) = fold
    val maxRated = train.groupBy("user_id").count().agg(max("count")).first().getLong(0)
    val nItems = items.count()
    val kPrime = if (allRecs) nItems.toInt else math.min(maxRated + k, nItems).toInt
    val top =
      if (fused) CosineKnn.topKCompute(users, items, kPrime, excludeSelf = false)
      else CosineKnn.topKShuffleCombine(users, items, kPrime, excludeSelf = false)
    val ranked = top.withColumnRenamed("query_id", "user_id")
      .join(train, Seq("user_id", "item_id"), "left_anti")
      .withColumn("rank", row_number().over(
        Window.partitionBy("user_id").orderBy(col("score").desc, col("item_id"))))
    (if (allRecs) ranked else ranked.filter(col("rank") <= k)).select("user_id", "item_id", "rank")
  }

  test("driver top-k equals CosineKnn.topK's fused and shuffle-combine kernels row for row") {
    for ((seed, nUsers, nItems, k) <- Seq((1, 12, 30, 5), (2, 20, 9, 4), (3, 6, 40, 50));
         allRecs <- Seq(false, true)) {
      val fold = randomFold(seed, nUsers, nItems)
      val train = fold.train
      val local = fold.driver.recommend(spark, k, allRecs)
      assert(Shim.localRows(local).isDefined, "the driver path returns a local table")
      val combined = sparkRecs(fold, k, allRecs, fused = false)
      assert(local.schema == combined.schema)
      val got = rows(local)
      assert(got == rows(combined), s"seed $seed allRecs $allRecs vs shuffle-combine")
      assert(got == rows(sparkRecs(fold, k, allRecs, fused = true)), s"seed $seed allRecs $allRecs vs fused")
      // u0 rated every item; the zero-vector user u3 still gets a list
      assert(!got.exists(_._1 == "u0") && got.exists(_._1 == "u3"))
      if (allRecs) assert(got.count(_._1 == "u1") == nItems - train.filter($"user_id" === "u1").count())
    }
  }

  test("driver top-k breaks exact score ties by item_id in UTF-8 order") {
    val v = Array(1.0, 2.0, 3.0)
    // "～" (U+FF5E) sorts before "😀" in UTF-8 bytes, after it in UTF-16 units
    val fold = new DriverFold(Seq("u" -> Array(3.0, 2.0, 1.0)),
      Seq("😀" -> v.clone(), "～" -> v.clone(), "a" -> Array(0.0, 0.0, 0.0)), Array.empty, Array.empty)
    assert(rows(fold.recommend(spark, 3, allRecs = false)) ==
      Seq(("u", "～", 1), ("u", "😀", 2), ("u", "a", 3)))
  }

  /** `df`'s rows as one local table, the form a driver-regime fold's
    * recommend returns (`toDF` adds a projection over its rows). */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.List.of(df.collect(): _*), df.schema)

  /** MetricsSpec's hand-worked fixture with string ids, plus a user with
    * duplicate recommendations and one without relevant test items. */
  private val recs = local(Seq(
    ("1", "10", 1), ("1", "11", 2), ("1", "12", 3), ("1", "13", 4), ("1", "14", 5),
    ("2", "10", 1), ("2", "11", 2),
    ("3", "20", 1), ("3", "20", 2), ("3", "21", 3), ("3", "22", 3)
  ).toDF("user_id", "item_id", "rank"))
  private val testDf = Seq(
    ("1", "10", 5.0), ("1", "12", 4.0), ("1", "99", 4.0),
    ("2", "10", 2.0),
    ("3", "20", 5.0), ("3", "22", 4.0), ("3", "22", 5.0), ("4", "10", 5.0)
  ).toDF("user_id", "item_id", "rating")

  private def sparkMeans(r: DataFrame, t: DataFrame, k: Int, thr: Double): Row =
    Metrics.perUserAtK(r, t, k, thr).agg(avg("ap"), avg("ndcg")).first()

  private def assertClose(got: Row, want: Row, what: String): Unit =
    for (c <- 0 to 1) assert(math.abs(got.getDouble(c) - want.getDouble(c)) < 1e-12, s"$what col $c: $got vs $want")

  test("driver meansAtK equals the Spark form within 1e-12") {
    for (k <- Seq(1, 2, 5)) {
      val means = Metrics.meansAtK(recs, testDf, k, 4.0)
      assert(Shim.localRows(means).isDefined, "the driver path returns a local table")
      assertClose(means.first(), sparkMeans(recs, testDf, k, 4.0), s"fixture k=$k")
    }
    // a random case: 40 users, repeated items and ranks in the lists
    val rnd = new scala.util.Random(7)
    val r = local((1 to 40).flatMap(u => (1 to 8).map(p => (s"u$u", s"i${rnd.nextInt(15)}", p)))
      .toDF("user_id", "item_id", "rank"))
    val t = (1 to 45).flatMap(u => (1 to rnd.nextInt(6)).map(_ => (s"u$u", s"i${rnd.nextInt(15)}",
      (1 + rnd.nextInt(5)).toDouble))).toDF("user_id", "item_id", "rating")
    for (k <- Seq(3, 10)) assertClose(Metrics.meansAtK(r, t, k, 3.0).first(), sparkMeans(r, t, k, 3.0), s"random k=$k")
  }

  test("driver meansAtK on local recs reads them without a job; no qualifying user gives nulls") {
    val local = spark.createDataFrame(java.util.List.of(Row("1", "10", 1), Row("1", "12", 2)),
      DriverFold.recsSchema).persist()
    val t = testDf.repartition(2).persist()
    t.count()
    var means: Row = null
    val jobs = JobWatch.jobs(spark) { means = Metrics.meansAtK(local, t, 5, 4.0).first() }
    assert(jobs.size == 1, jobs) // the relevant test rows
    assertClose(means, sparkMeans(local, t, 5, 4.0), "local recs")
    // a local test frame (toDF's projection over its rows) is read in place
    assert(JobWatch.jobs(spark) { means = Metrics.meansAtK(local, testDf, 5, 4.0).first() }.isEmpty)
    assertClose(means, sparkMeans(local, t, 5, 4.0), "local recs, local test rows")
    val none = Metrics.meansAtK(local, t, 5, 9.0).first()
    assert(none.isNullAt(0) && none.isNullAt(1))
    Seq(local, t).foreach(_.unpersist())
  }

  test("lazy Spark recs take the Spark plan without a collect attempt") {
    val lazyRecs = recs.repartition(2)
    var means: DataFrame = null
    val jobs = JobWatch.jobs(spark) { means = Metrics.meansAtK(lazyRecs, testDf, 5, 4.0) }
    assert(jobs.isEmpty, jobs) // nothing ran: the ranking is left to the one eval job
    assert(Shim.localRows(means).isEmpty)
    assertClose(means.first(), sparkMeans(recs, testDf, 5, 4.0), "lazy recs")
  }

  test("over-bound or mistyped meansAtK inputs take the Spark path with the same rows") {
    for (bound <- Seq(0L, 5L)) {
      val means = Metrics.meansAtK(recs, testDf, 5, 4.0, maxDriverRows = bound)
      assert(Shim.localRows(means).isEmpty, s"bound $bound")
      assertClose(means.first(), sparkMeans(recs, testDf, 5, 4.0), s"bound $bound")
    }
    val longIds = testDf.withColumn("user_id", col("user_id").cast("long"))
    val mixed = Metrics.meansAtK(recs, longIds, 5, 4.0)
    assert(Shim.localRows(mixed).isEmpty)
    assertClose(mixed.first(), sparkMeans(recs, longIds, 5, 4.0), "long test ids")
  }

  test("local recs over a Spark test frame past the bound: one collect attempt, then the Spark plan") {
    val local = spark.createDataFrame(java.util.List.of(Row("1", "10", 1), Row("1", "12", 2)),
      DriverFold.recsSchema)
    val t = testDf.repartition(2).persist()
    t.count()
    var means: DataFrame = null
    // 2 top-k rows are within the bound, the 7 relevant test rows are not
    val jobs = JobWatch.jobs(spark) { means = Metrics.meansAtK(local, t, 5, 4.0, maxDriverRows = 2) }
    assert(jobs.size == 1, jobs)
    assert(Shim.localRows(means).isEmpty)
    assertClose(means.first(), sparkMeans(local, t, 5, 4.0), "over-bound test rows")
    t.unpersist()
  }

  private val ratings = (for (u <- 1 to 12; i <- 1 to 9 if (u * 7 + i) % 3 != 0)
    yield (s"$u", s"$i", ((u + i) % 5 + 1).toDouble)).toDF("user_id", "item_id", "rating")

  Seq(
    "transE" -> (() => new KgeRecommender(Map("model" -> "transE", "embedding_dim" -> "8", "epochs" -> "2"))),
    "node2vec" -> (() => new DeepWalkRecommender(Map("biased" -> "true", "p" -> "0.5", "q" -> "2.0",
      "n_walks" -> "4", "walk_len" -> "6", "embedding_size" -> "8")))
  ).foreach { case (name, make) =>
    test(s"$name: a driver-regime fold's train + recommend + meansAtK starts at most 2 Spark jobs") {
      val train = ratings.filter(hash($"user_id", $"item_id") % 4 =!= 0).repartition(3).persist()
      val heldOut = ratings.filter(hash($"user_id", $"item_id") % 4 === 0).repartition(2).persist()
      train.count(); heldOut.count()
      val rec = make()
      var recs: DataFrame = null
      var means: Row = null
      val jobs = JobWatch.jobs(spark) {
        rec.train(spark, train, None, None)
        recs = rec.recommend(3)
        means = Metrics.meansAtK(recs, heldOut, 3, 3.0).first()
      }
      assert(jobs.size <= 2, jobs)
      assert(Shim.localRows(recs).isDefined)
      assertClose(means, sparkMeans(recs, heldOut, 3, 3.0), name)
      // one user's recs come from the same driver arrays, without a job
      var u: DataFrame = null
      assert(JobWatch.jobs(spark) { u = rec.recommendUser("1", 3) }.isEmpty)
      assert(Shim.localRows(u).isDefined)
      assert(rows(u) == rows(recs).filter(_._1 == "1") && rows(u).nonEmpty)
      rec.release()
      Seq(train, heldOut).foreach(_.unpersist())
    }
  }

  test("local foldPivot equals the Spark pivot, mean and stddev_pop expressions") {
    def sparkPivot(metrics: DataFrame, k: Int, name: String): DataFrame = {
      val folds = metrics.groupBy("model").pivot("fold", 1 to k)
        .agg(round(first("value"), 6))
        .select(col("model") +: (1 to k).map(i => col(i.toString).as(s"fold-${i}_$name")): _*)
      val stats = metrics.groupBy("model").agg(
        round(avg("value"), 6).as(s"${name}_mean"),
        round(coalesce(stddev_pop(col("value")), lit(0.0)), 6).as(s"${name}_std"))
      folds.join(stats, Seq("model"))
    }
    val rnd = new scala.util.Random(11)
    for (nFolds <- 1 to 5; trial <- 0 until 3) {
      // some (model, fold) cells are missing; values span several scales
      val metrics = (for (m <- 1 to 4; f <- 1 to nFolds if rnd.nextInt(5) != 0 || f == 1)
        yield (s"m$m", f, rnd.nextDouble() * math.pow(10, rnd.nextInt(4) - 1)))
        .toDF("model", "fold", "value")
      val local = Reporter.foldPivot(metrics, nFolds, "MAP@5")
      val viaSpark = sparkPivot(metrics, nFolds, "MAP@5")
      assert(local.schema == viaSpark.schema, s"$nFolds folds")
      assert(local.collect().toSeq.sortBy(_.getString(0)) == viaSpark.collect().toSeq.sortBy(_.getString(0)),
        s"$nFolds folds, trial $trial")
    }
  }

  test("Experiment.run reports each fold's train, recommend and eval seconds") {
    val tmp = java.nio.file.Files.createTempDirectory("phase_secs")
    graft.util.Scratch.deleteOnExit(tmp)
    graft.schema.TypedCsv.write(ratings, s"$tmp/rating.csv")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$tmp/exp.yml"),
      s"""experiment:
         |  dataset: {ratings: $tmp/rating.csv}
         |  split:
         |    seed: 42
         |    test: {method: k_fold, k: 2, level: user}
         |  models:
         |    - {name: transE, parameters: {embedding_dim: 4, epochs: 1}}
         |  evaluation: {k: 3, relevance_threshold: 3, metrics: [MAP, nDCG]}
         |""".stripMargin)
    val report = graft.cli.Experiment.run(spark, s"$tmp/exp.yml")
    val phases = for (f <- 1 to 2; p <- Seq("train", "recommend", "eval")) yield s"fold-${f}_${p}_s"
    assert(report.columns.toSeq.takeRight(6).sorted == phases.sorted)
    val row = report.collect().head
    for (f <- 1 to 2) {
      val secs = Seq("train", "recommend", "eval").map(p => row.getDouble(row.fieldIndex(s"fold-${f}_${p}_s")))
      assert(secs.forall(_ >= 0.0) && secs.sum <= row.getDouble(row.fieldIndex(s"fold-${f}_execution_time")) + 1e-6)
    }
  }
}
