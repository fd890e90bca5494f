package graft

import graft.eval.Metrics
import graft.model.PopularityRecommender
import graft.prep.{KCoreCaches, Preprocess}
import graft.split.EdgeSplits
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The experiment spine folded on the driver: binarize, k-core, the
  * four splits and popularity over a local table must give the rows of
  * their Spark plans over the same rows as a Spark plan, without a job,
  * and so must the load's dedup, joins, property edges and social links
  * and each plan shape the executor runs; and a small experiment, read
  * and assembled on the driver, must start no job and report what its
  * Spark spine reports. */
class DriverSpineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** ~300 ratings of 30 users × 25 items with ties in ts and in item
    * counts, plus rows with a null user, a null item or both. String ids
    * mix `～` (U+FF5E) and `😀` (U+1F600), whose UTF-8 order differs from
    * their UTF-16 order. Double ids 0 to 3 are -0.0, 0.0 and two NaNs of
    * different bits, which Spark's groupings and joins take as two keys.
    * Returns the local table. */
  private def ratings(idType: DataType, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id(prefix: String, n: Int): Any = idType match {
      case IntegerType => n
      case LongType    => n.toLong + (1L << 40)
      case DoubleType  => n match {
        case 0 => -0.0; case 1 => 0.0; case 2 => Double.NaN
        case 3 => java.lang.Double.longBitsToDouble(0x7ff8000000000123L); case _ => n.toDouble
      }
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

  private val idTypes = Seq(IntegerType, LongType, StringType, DoubleType)

  /** The same rows as a Spark plan: it is not local. */
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
    // a repartition, a local sort or a nondeterministic expression
    // anywhere in the chain makes a frame non-local
    for (df <- Seq(r.repartition(2).filter(col("ts") > 3),
      r.sortWithinPartitions("ts"), r.withColumn("x", rand(1))))
      assert(!Shim.isLocal(df) && Shim.localRows(df).isEmpty, df.queryExecution.analyzed)
    // an aggregate over a local table is local, with its Spark plan's rows
    assertSame(r.groupBy("user_id").count(), onSpark(r).groupBy("user_id").count(), "groupBy count")
  }

  test("localRows reads a Union of local chains in child order, as collect() returns it") {
    val a = ratings(StringType, 8)
    val b = ratings(StringType, 9).filter(col("ts") > 10)
    for (df <- Seq(a.union(b),
      a.select("item_id", "user_id").unionByName(b.select("user_id", "item_id")),
      a.union(b).union(b.orderBy(col("ts").desc, col("user_id"), col("item_id"))).withColumn("x", col("rating") * 2))) {
      var rows: Option[Seq[Row]] = None
      assert(JobWatch.jobs(spark) { rows = Shim.localRows(df) }.isEmpty, df.queryExecution.analyzed)
      assert(rows.get == df.collect().toSeq, df.queryExecution.analyzed)
    }
    // one child that is not a local table makes the union non-local
    val partly = a.union(b.limit(5))
    assert(!Shim.isLocal(partly) && Shim.localRows(partly).isEmpty)
    // the embedding recommenders' label-edge union: rating edges over the
    // local train rows, then the local property edges
    val props = graft.graph.KGraph.propertyEdges(
      spark.createDataFrame(java.util.Arrays.asList(Row("i1", "a"), Row("i2", null)),
        StructType(Seq(StructField("item_id", StringType), StructField("genre", StringType)))),
      "item_id", isUser = false, Seq("genre")).get
    val edges = a.select(graft.graph.KGraph.userLabel(col("user_id")).as("src_label"), lit("rating").as("relation"),
      graft.graph.KGraph.itemLabel(col("item_id")).as("dst_label")).unionByName(props)
    var rows: Option[Seq[Row]] = None
    assert(JobWatch.jobs(spark) { rows = Shim.localRows(edges) }.isEmpty)
    assert(rows.get == edges.collect().toSeq)
  }

  /** Rows keyed by `idType` ids with nulls, duplicates, and for doubles
    * -0.0, 0.0 and NaN, which Spark's joins and groupings treat as
    * equal keys. */
  private def keyed(idType: DataType, n: Int, seed: Int, other: (String, DataType)*): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id(i: Int): Any = if (i % 11 == 0) null else idType match {
      case DoubleType => i % 7 match { case 0 => -0.0; case 1 => 0.0; case 2 => Double.NaN; case _ => (i % 9).toDouble }
      case LongType => (i % 9).toLong
      case _ => Seq("a", "b～", "c😀", "d", "e", "f", "g", "h", "i")(i % 9)
    }
    val rows = (0 until n).map(i => Row.fromSeq(id(rnd.nextInt(60)) +: other.map {
      case (_, DoubleType) => if (rnd.nextInt(10) == 0) null else if (rnd.nextInt(15) == 0) Double.NaN else (1 + rnd.nextInt(5)).toDouble
      case (_, StringType) => if (rnd.nextInt(10) == 0) null else s"v${rnd.nextInt(4)}"
      case (_, _) => Array("x", "y").take(rnd.nextInt(3)).toSeq
    }))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(StructField("k", idType) +: other.map { case (c, t) => StructField(c, t) }))
  }

  test("load: the (user, item) max dedup, driver form == Spark form") {
    for (t <- idTypes) {
      val r = ratings(t, 10)
      // duplicate edges with other ratings and timestamps, NaN among them
      val dup = r.withColumn("rating", when(col("ts") % 3 === 0, lit(Double.NaN)).otherwise(col("rating") + 1))
        .withColumn("ts", col("ts") - 5)
      for (raw <- Seq(Shim.localTable(r.union(dup).withColumn("ts", col("ts").cast("double"))),
        Shim.localTable(r.union(dup).drop("ts"))))
        assertSame(graft.cli.Experiment.dedupRatings(raw), graft.cli.Experiment.dedupRatings(onSpark(raw)),
          s"$t ${raw.columns.mkString(",")}")
    }
    // -0.0/0.0 and NaN keys group as Spark groups them
    val k = keyed(DoubleType, 200, 11, "rating" -> DoubleType, "ts" -> StringType)
    val raw = k.select(col("k").as("user_id"), (col("k") * 2).as("item_id"), col("rating"), col("ts"))
    assertSame(graft.cli.Experiment.dedupRatings(raw), graft.cli.Experiment.dedupRatings(onSpark(raw)), "double keys")
  }

  test("load: keyJoin left_semi and left, driver form == Spark form") {
    for (t <- Seq(StringType, LongType, DoubleType); how <- Seq("left_semi", "left")) {
      // the key is not the first column: a USING join moves it first
      val l = keyed(t, 120, 12, "a" -> StringType).select(col("a"), col("k"))
      val r = keyed(t, 40, 13, "b" -> DoubleType, "c" -> ArrayType(StringType))
      assertSame(l.join(r, Seq("k"), how), onSpark(l).join(onSpark(r), Seq("k"), how), s"$t $how")
    }
    // keys of two types: Spark's join, with its coercion, folds as well
    val (s, n) = (keyed(LongType, 10, 1).select(col("k").cast("string").as("k")), keyed(LongType, 10, 2))
    assertSame(s.join(n, Seq("k"), "left_semi"), onSpark(s).join(onSpark(n), Seq("k"), "left_semi"), "mixed key types")
  }

  test("load: endpoint validation, remove_unmatched, property edges and social links, driver form == Spark form") {
    val e = graft.cli.Experiment
    val r = ratings(StringType, 14)
    // known users with duplicates and a null
    val known = r.filter(col("ts") % 2 === 0).select("user_id")
    val users = Shim.localTable(known.union(known))
    val items = Shim.localTable(r.select(col("item_id"), concat(col("item_id"), lit("x")).as("title"))
      .filter(col("ts") > 3).union(r.select(col("item_id"), lit(null).cast("string"))))
    val map = r.select(col("item_id"), when(col("ts") % 4 =!= 0, concat(lit("dbr:"), col("item_id"))).as("URI"),
      col("rating").as("score"))
    assertSame(r.join(users, Seq("user_id"), "left_semi"),
      onSpark(r).join(onSpark(users), Seq("user_id"), "left_semi"), "endpoint validation")
    val kept = items.join(e.matchedItems(map), Seq("item_id"), "left_semi")
    assertSame(kept, onSpark(items).join(e.matchedItems(onSpark(map)), Seq("item_id"), "left_semi"), "remove_unmatched")
    // property edges: a string, a number and a string_list column with
    // null and empty lists and empty values, off an item table and a
    // left-joined map table
    val enriched = Shim.localTable(r.select(col("item_id"),
      when(col("ts") % 5 =!= 0, split(concat_ws("::", col("user_id"), lit(""), col("item_id")), "::")).as("subject"),
      when(col("ts") % 3 =!= 0, col("user_id")).otherwise(lit("")).as("director"), col("rating").as("score")))
    for ((df, cols) <- Seq((enriched, Seq("subject", "director", "score", "missing")),
      (kept.select("item_id").join(map, Seq("item_id"), "left"), Seq("URI", "score"))))
      assertSame(graft.graph.KGraph.propertyEdges(df, "item_id", isUser = false, cols).get,
        graft.graph.KGraph.propertyEdges(onSpark(df), "item_id", isUser = false, cols).get, cols.mkString(","))
    val pairs = r.select(col("user_id").as("user1"), col("item_id").as("user2"))
      .union(r.select(col("user_id").as("user1"), col("user_id").as("user2")))
    assertSame(graft.etl.Converters.socialLinks(pairs, users.union(users)),
      graft.etl.Converters.socialLinks(onSpark(pairs), onSpark(users).union(onSpark(users))), "social links")
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
      // the experiment splits deduplicated edges: with double ids, -0.0
      // and 0.0 (or two NaNs) make two rows of one edge, which tie in the
      // split order, where Spark's row number follows the shuffle's order
      val r = if (t == DoubleType) graft.cli.Experiment.dedupRatings(ratings(t, 4)) else ratings(t, 4)
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

  /** MAP/nDCG of popularity over a random split of `ratings(idType, 7)`,
    * folded on the driver with no job, equal to the Spark plan's within
    * 1e-12. */
  private def assertMeansFold(idType: DataType): Unit = {
    val r = ratings(idType, 7)
    val a = EdgeSplits.randomByRatio(r, 0.3, "user", 42)
    val (train, test) = (a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test"))
    val recs = PopularityRecommender.recommend(train, 5)
    var means: Row = null
    assert(JobWatch.jobs(spark) { means = Metrics.meansAtK(recs, test, 5, 3.0).first() }.isEmpty, idType)
    val want = Metrics.perUserAtK(onSpark(recs), onSpark(test), 5, 3.0).agg(avg("ap"), avg("ndcg")).first()
    for (c <- 0 to 1) assert(math.abs(means.getDouble(c) - want.getDouble(c)) < 1e-12, s"$idType: $means vs $want")
  }

  test("meansAtK over local recs and a local test frame starts no job") {
    assertMeansFold(StringType)
  }

  test("meansAtK over local recs and a local test frame with double ids starts no job") {
    assertMeansFold(DoubleType)
  }

  test("folded shapes: an empty global aggregate, a left join with unmatched rows; " +
    "other shapes stay Spark plans") {
    val r = ratings(StringType, 15)
    // a global aggregate over no rows: one row, count 0, sum and max null
    val none = (df: DataFrame) => df.filter(col("ts") < 0)
      .agg(count(lit(1)).as("n"), sum("ts").as("total"), max("user_id").as("last"))
    assertSame(none(r), none(onSpark(r)), "empty global aggregate")
    assert(Shim.localRows(none(r)).get == Seq(Row(0L, null, null)))
    // a left join whose unmatched rows take nulls
    val latest = (df: DataFrame) => df.join(df.filter(col("ts") % 3 === 0).groupBy("user_id")
      .agg(max("ts").as("latest")), Seq("user_id"), "left")
    assertSame(latest(r), latest(onSpark(r)), "left join")
    assert(Shim.localRows(latest(r)).get.exists(_.isNullAt(4)))
    // other aggregates, window functions and frames, a cross join, a
    // distinct and a limit stay Spark plans: no spine plan folds them
    for (df <- Seq(r.groupBy("user_id").agg(collect_list("item_id")), r.agg(avg("rating")),
      r.withColumn("prev", lag("ts", 1).over(Window.partitionBy("user_id").orderBy("ts"))),
      r.withColumn("by_ts", sum("rating").over(Window.partitionBy("user_id").orderBy("ts"))),
      r.select("user_id").crossJoin(r.select("item_id")), r.select("user_id").distinct(), r.limit(5)))
      assert(!Shim.isLocal(df) && Shim.localRows(df).isEmpty, df.queryExecution.analyzed)
  }

  /** The etl-kcore shape: binarize, 4 k-core passes, a timestamp test
    * split with a random validation split, popularity. With `itemPad`,
    * an item table of every item with a `blurb` of that many characters. */
  private def etlKcoreConfig(dir: java.nio.file.Path,
                             models: String = "{name: popularity, parameters: {}}", itemPad: Int = 0): String = {
    val rnd = new scala.util.Random(11)
    val csv = new StringBuilder("user_id::string,item_id::string,rating::number,timestamp::number\n")
    for (u <- 1 to 60; i <- 1 to 40 if rnd.nextDouble() < 0.5 - (i % 5) * 0.08)
      csv.append(s"u$u,i$i${if (i % 3 == 0) "～" else ""},${1 + rnd.nextInt(5)},${rnd.nextInt(1000)}\n")
    java.nio.file.Files.writeString(dir.resolve("rating.csv"), csv.toString)
    if (itemPad > 0) java.nio.file.Files.writeString(dir.resolve("item.csv"), "item_id::string,blurb::string\n" +
      (1 to 40).map(i => s"i$i${if (i % 3 == 0) "～" else ""},${"x" * itemPad}\n").mkString)
    val item = if (itemPad > 0) s", item: ${dir.resolve("item.csv")}" else ""
    val cfg = dir.resolve("exp.yml")
    java.nio.file.Files.writeString(cfg,
      s"""experiment:
         |  dataset: {ratings: ${dir.resolve("rating.csv")}$item}
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

  test("an etl-kcore-shaped experiment starts no Spark job, and reports load/preprocess/split seconds") {
    val tmp = java.nio.file.Files.createTempDirectory("spine_jobs")
    graft.util.Scratch.deleteOnExit(tmp)
    val cfg = etlKcoreConfig(tmp)
    var report: DataFrame = null
    val labels = JobWatch.descriptions(spark) { report = graft.cli.Experiment.run(spark, cfg) }
    assert(labels.isEmpty, labels.distinct)
    val row = report.collect().head
    for (c <- Seq("load_s", "preprocess_s", "split_s")) assert(row.getDouble(row.fieldIndex(c)) >= 0.0, c)
    assert(row.getDouble(row.fieldIndex("MAP@10_mean")) > 0.0)
  }

  test("an etl-kcore-shaped experiment starts jobs only in load, and reports load/preprocess/split seconds") {
    // inputs over the byte gate whose validated ratings are within the
    // row gate: Spark reads them, the ratings leave load as a local table,
    // and the spine starts no job
    val tmp = java.nio.file.Files.createTempDirectory("spine_row_gate")
    graft.util.Scratch.deleteOnExit(tmp)
    val cfg = etlKcoreConfig(tmp, itemPad = 4000)
    val rows = 5000L
    val inputs = Seq("rating.csv", "item.csv").map(f => tmp.resolve(f).toString)
    assert(!graft.cli.Experiment.readsOnDriver(spark, inputs, rows))
    var report: DataFrame = null
    val labels = JobWatch.descriptions(spark) { report = graft.cli.Experiment.run(spark, cfg, maxDriverRows = rows) }
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
