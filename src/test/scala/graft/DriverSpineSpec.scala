package graft

import graft.eval.Metrics
import graft.model.PopularityRecommender
import graft.prep.{KCoreCaches, Preprocess}
import graft.split.EdgeSplits
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The experiment spine's driver forms: binarize, k-core, the four
  * splits and popularity over a local table must give the rows of their
  * Spark forms over the same rows as a Spark plan, without a job; and a
  * small experiment, gated to local tables at load, must start jobs only
  * in load and report what its Spark spine reports. */
class DriverSpineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** ~300 ratings of 30 users × 25 items with ties in ts and in item
    * counts, plus rows with a null user, a null item or both. String ids
    * mix `～` (U+FF5E) and `😀` (U+1F600), whose UTF-8 order differs from
    * their UTF-16 order. Returns the local table. */
  private def ratings(idType: DataType, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id(prefix: String, n: Int): Any = idType match {
      case IntegerType => n
      case LongType    => n.toLong + (1L << 40)
      case _           => n % 3 match { case 0 => s"$prefix$n～"; case 1 => s"$prefix$n😀"; case _ => s"$prefix$n" }
    }
    val rows = (for (u <- 0 until 30; i <- 0 until 25 if rnd.nextDouble() < 0.4)
      yield Row(id("u", u), id("i", i), (1 + rnd.nextInt(5)).toDouble, rnd.nextInt(40).toLong)) ++
      Seq(Row(null, id("i", 1), 5.0, 3L), Row(null, id("i", 2), 4.0, 39L), Row(id("u", 4), null, 5.0, 7L),
        Row(id("u", 5), null, 1.0, 12L), Row(null, null, 5.0, 20L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("user_id", idType), StructField("item_id", idType),
      StructField("rating", DoubleType), StructField("ts", LongType))))
  }

  private val idTypes = Seq(IntegerType, LongType, StringType)

  /** The same rows as a Spark plan: no driver form applies to it. */
  private def onSpark(df: DataFrame): DataFrame = df.repartition(3)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `local` is a local table read without a job, with `viaSpark`'s
    * column names, types and rows. */
  private def assertSame(local: DataFrame, viaSpark: DataFrame, what: String): Unit = {
    assert(Shim.isLocal(local), s"$what: not a local table")
    assert(!Shim.isLocal(viaSpark), s"$what: the Spark form is local")
    assert(local.schema.map(f => (f.name, f.dataType)) == viaSpark.schema.map(f => (f.name, f.dataType)), what)
    var rows: Seq[Row] = null
    assert(JobWatch.jobs(spark) { rows = Shim.localRows(local).get }.isEmpty, s"$what: reading started a job")
    val got = rows.map(_.toString).sorted
    assert(got.nonEmpty || sorted(viaSpark).isEmpty, what)
    assert(got == sorted(viaSpark), what)
  }

  test("localRows reads a persisted Project/Filter/Sort chain over a local table without a job") {
    val r = ratings(StringType, 1)
    val chain = r.withColumn("is_test", col("ts") > 20).filter(!col("is_test")).drop("is_test")
      .orderBy(col("ts").desc, col("item_id")).persist(StorageLevel.MEMORY_AND_DISK)
    var rows: Option[Seq[Row]] = None
    assert(JobWatch.jobs(spark) { rows = Shim.localRows(chain) }.isEmpty)
    assert(rows.get == chain.collect().toSeq) // the Sort's order too
    chain.unpersist()
    // a Spark operator, a local sort or a nondeterministic expression
    // anywhere in the chain makes a frame non-local
    for (df <- Seq(r.groupBy("user_id").count(), r.repartition(2).filter(col("ts") > 3),
      r.sortWithinPartitions("ts"), r.withColumn("x", rand(1))))
      assert(!Shim.isLocal(df) && Shim.localRows(df).isEmpty, df.queryExecution.analyzed)
  }

  test("binarize: driver form == Spark form") {
    for (t <- idTypes; thr <- Seq(3.0, 4.5)) {
      val r = ratings(t, 2)
      assertSame(Preprocess.binarize(r, thr), Preprocess.binarize(onSpark(r), thr), s"$t thr=$thr")
    }
  }

  test("filterKCore: chained passes, early convergence and null keys, driver form == Spark form") {
    for (t <- idTypes) {
      val r = ratings(t, 3)
      val (lc, sc) = (new KCoreCaches, new KCoreCaches)
      // the third pass converges before its 5 rounds; null keys survive
      val passes = Seq((4, "user", 2), (3, "item", 1), (5, "user", 5), (2, "item", 3))
      val (local, _) = passes.foldLeft((r, onSpark(r))) { case ((l, s), (k, target, it)) =>
        val next = (Preprocess.filterKCore(l, k, target, it, lc), Preprocess.filterKCore(s, k, target, it, sc))
        assertSame(next._1, next._2, s"$t after $target k=$k")
        next
      }
      assert(local.filter(col("user_id").isNull).count() > 0, "null users survive")
      assert(local.count() < r.count())
      Seq(lc, sc).foreach(_.release())
    }
  }

  test("splits: every method and level, driver form == Spark form") {
    for (t <- idTypes; level <- Seq("user", "global")) {
      val r = ratings(t, 4)
      val s = onSpark(r)
      for (p <- Seq(0.2, 0.5)) {
        assertSame(EdgeSplits.randomByRatio(r, p, level, 42), EdgeSplits.randomByRatio(s, p, level, 42),
          s"$t random_by_ratio $level p=$p")
        assertSame(EdgeSplits.timestampByRatio(r, p, level), EdgeSplits.timestampByRatio(s, p, level),
          s"$t timestamp_by_ratio $level p=$p")
      }
      // k > n: 40 folds per user (≤ 25 rows each), 400 over all rows
      for (k <- Seq(2, 5, if (level == "user") 40 else 400))
        assertSame(EdgeSplits.kFoldRandom(r, k, level, 7), EdgeSplits.kFoldRandom(s, k, level, 7),
          s"$t k_fold $level k=$k")
    }
    val r = ratings(StringType, 4)
    assertSame(EdgeSplits.fixedTimestamp(r, 20), EdgeSplits.fixedTimestamp(onSpark(r), 20), "fixed_timestamp")
    // the train side of a split is itself local: a validation split nests
    val a = EdgeSplits.randomByRatio(r, 0.3, "user", 42)
    val train = a.filter(!col("is_test")).drop("is_test")
    assertSame(EdgeSplits.timestampByRatio(train, 0.25, "user"),
      EdgeSplits.timestampByRatio(onSpark(train), 0.25, "user"), "nested split")
  }

  test("popularity: count ties, the maxRated + k bound and all_recs, driver form == Spark form") {
    for (t <- idTypes; k <- Seq(1, 3); allRecs <- Seq(false, true)) {
      val r = ratings(t, 5)
      var local: DataFrame = null
      assert(JobWatch.jobs(spark) { local = PopularityRecommender.recommend(r, k, allRecs) }.isEmpty)
      assertSame(local, PopularityRecommender.recommend(onSpark(r), k, allRecs), s"$t k=$k allRecs=$allRecs")
    }
  }

  test("the static popularity recommend leaves its caller's frame unpersisted") {
    val train = onSpark(ratings(LongType, 6)).filter(col("user_id").isNotNull)
    PopularityRecommender.recommend(train, 3).collect()
    assert(train.storageLevel == StorageLevel.NONE)
    // the recommender's own train() persist is undone by release()
    val rec = new PopularityRecommender().train(spark, train)
    assert(train.storageLevel != StorageLevel.NONE)
    rec.recommend(3).collect()
    rec.release()
    assert(train.storageLevel == StorageLevel.NONE)
  }

  test("meansAtK over local recs and a local test frame starts no job") {
    val r = ratings(StringType, 7)
    val a = EdgeSplits.randomByRatio(r, 0.3, "user", 42)
    val (train, test) = (a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test"))
    val recs = PopularityRecommender.recommend(train, 5)
    var means: Row = null
    assert(JobWatch.jobs(spark) { means = Metrics.meansAtK(recs, test, 5, 3.0).first() }.isEmpty)
    val want = Metrics.perUserAtK(onSpark(recs), onSpark(test), 5, 3.0).agg(avg("ap"), avg("ndcg")).first()
    for (c <- 0 to 1) assert(math.abs(means.getDouble(c) - want.getDouble(c)) < 1e-12, s"$means vs $want")
  }

  /** The etl-kcore shape: binarize, 4 k-core passes, a timestamp test
    * split with a random validation split, popularity. */
  private def etlKcoreConfig(dir: java.nio.file.Path,
                             models: String = "{name: popularity, parameters: {}}"): String = {
    val rnd = new scala.util.Random(11)
    val csv = new StringBuilder("user_id::string,item_id::string,rating::number,timestamp::number\n")
    for (u <- 1 to 60; i <- 1 to 40 if rnd.nextDouble() < 0.5 - (i % 5) * 0.08)
      csv.append(s"u$u,i$i${if (i % 3 == 0) "～" else ""},${1 + rnd.nextInt(5)},${rnd.nextInt(1000)}\n")
    java.nio.file.Files.writeString(dir.resolve("rating.csv"), csv.toString)
    val cfg = dir.resolve("exp.yml")
    java.nio.file.Files.writeString(cfg,
      s"""experiment:
         |  dataset: {ratings: ${dir.resolve("rating.csv")}}
         |  preprocess:
         |    - {method: binarize, parameters: {threshold: 4}}
         |    - {method: filter_kcore, parameters: {k: 6, target: user, iterations: 2}}
         |    - {method: filter_kcore, parameters: {k: 4, target: item, iterations: 2}}
         |    - {method: filter_kcore, parameters: {k: 6, target: user, iterations: 2}}
         |    - {method: filter_kcore, parameters: {k: 4, target: item, iterations: 2}}
         |  split:
         |    seed: 42
         |    test: {method: timestamp_by_ratio, p: 0.2, level: user}
         |    validation: {method: random_by_ratio, p: 0.1, level: user}
         |  models: [$models]
         |  evaluation: {k: 10, relevance_threshold: 1, metrics: [MAP, nDCG]}
         |""".stripMargin)
    cfg.toString
  }

  test("an etl-kcore-shaped experiment starts jobs only in load, and reports load/preprocess/split seconds") {
    val tmp = java.nio.file.Files.createTempDirectory("spine_jobs")
    graft.util.Scratch.deleteOnExit(tmp)
    val cfg = etlKcoreConfig(tmp)
    var report: DataFrame = null
    val labels = JobWatch.descriptions(spark) { report = graft.cli.Experiment.run(spark, cfg) }
    assert(labels.nonEmpty && labels.forall(_ == "experiment: load"), labels.distinct)
    val row = report.collect().head
    for (c <- Seq("load_s", "preprocess_s", "split_s")) assert(row.getDouble(row.fieldIndex(c)) >= 0.0, c)
    assert(row.getDouble(row.fieldIndex("MAP@10_mean")) > 0.0)
  }

  test("the same experiment on its Spark spine (maxDriverRows = 0) reports the same values") {
    val tmp = java.nio.file.Files.createTempDirectory("spine_same")
    graft.util.Scratch.deleteOnExit(tmp)
    val cfg = etlKcoreConfig(tmp)
    def values(report: DataFrame): (Seq[String], Seq[Row]) = {
      val kept = report.columns.toSeq.filterNot(c => c.contains("execution_time") || c.endsWith("_s"))
      (kept, report.select(kept.map(col): _*).collect().toSeq)
    }
    var viaSpark: DataFrame = null
    val labels = JobWatch.descriptions(spark) { viaSpark = graft.cli.Experiment.run(spark, cfg, maxDriverRows = 0) }
    assert(labels.contains("experiment: preprocess") && labels.contains("popularity fold 1: eval"), labels.distinct)
    assert(values(graft.cli.Experiment.run(spark, cfg)) == values(viaSpark))
  }
  test("a model that does not read local tables gets its local fold as cached Spark frames") {
    val reads = Seq("popularity", "transE", "deepwalk", "node2vec", "als", "als_implicit", "bpr", "item2vec")
      .map(m => m -> graft.model.Recommenders.registry(m)(Map.empty).readsLocalTables).toMap
    assert(reads == Map("popularity" -> true, "transE" -> true, "deepwalk" -> true, "node2vec" -> true,
      "als" -> false, "als_implicit" -> false, "bpr" -> false, "item2vec" -> false), reads)
    assert(!graft.model.Recommenders.registry("deepwalk")(Map("w2v_impl" -> "mllib")).readsLocalTables)
    val tmp = java.nio.file.Files.createTempDirectory("spine_models")
    graft.util.Scratch.deleteOnExit(tmp)
    val cfg = etlKcoreConfig(tmp, "{name: popularity, parameters: {}}, " +
      "{name: bpr, parameters: {embedding_dim: 4, epochs: 2, min_rating: 1, pin_order: true}}, " +
      "{name: als, parameters: {embedding_dim: 4, iters: 2, pin_order: true}}")
    def values(report: DataFrame): Seq[Row] = {
      val kept = report.columns.toSeq.filterNot(c => c.contains("execution_time") || c.endsWith("_s"))
      report.select(kept.map(col): _*).orderBy("model").collect().toSeq
    }
    var gated: Seq[Row] = null
    val labels = JobWatch.descriptions(spark) { gated = values(graft.cli.Experiment.run(spark, cfg)) }
    // popularity still starts no job; BPR and ALS fit on Spark frames
    assert(!labels.exists(_.startsWith("popularity fold")), labels.distinct)
    assert(Seq("bpr", "als").forall(m => labels.exists(_.startsWith(s"$m fold 1: "))), labels.distinct)
    assert(gated.size == 3 && gated == values(graft.cli.Experiment.run(spark, cfg, maxDriverRows = 0)))
  }

  test("over the load gate the ratings go on over the gate scan's rows, without reading the CSV again") {
    val tmp = java.nio.file.Files.createTempDirectory("spine_gate")
    graft.util.Scratch.deleteOnExit(tmp)
    etlKcoreConfig(tmp)
    val ds = new java.util.HashMap[String, Object]()
    ds.put("ratings", tmp.resolve("rating.csv").toString)
    val under = graft.cli.Experiment.loadDataset(spark, ds, maxDriverRows = 1L << 20)
    assert(Shim.isLocal(under.ratings))
    val over = graft.cli.Experiment.loadDataset(spark, ds, maxDriverRows = 10)
    assert(!Shim.isLocal(over.ratings))
    // the RDDs of every stage the next read submits: the scan's stages,
    // the CSV read among them, are skipped
    val rdds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(i => rdds.add(i.name))
    }
    // JobWatch returns once every earlier event reached the listeners
    var got: Seq[String] = null
    spark.sparkContext.addSparkListener(listener)
    try JobWatch.jobs(spark) { got = sorted(over.ratings) }
    finally spark.sparkContext.removeSparkListener(listener)
    assert(got == sorted(under.ratings))
    assert(!rdds.isEmpty && !rdds.toArray.exists(_.toString.contains("FileScan")), rdds)
  }

}
