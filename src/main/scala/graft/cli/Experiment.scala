package graft.cli

import graft.eval.Metrics
import graft.graph.KGraph
import graft.model.Recommenders
import graft.prep.Preprocess
import graft.report.Reporter
import graft.schema.TypedCsv
import graft.split.EdgeSplits
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{LocalCsv, Shim}
import org.apache.spark.sql.types.{StringType, StructField}
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** The reference's experiment runner surface (`framework.py -c
  * config.yml` -> `framework/experiment.py:31-113`), re-expressed as a
  * driver loop over immutable DataFrames: YAML config -> typed-CSV
  * load -> preprocess list -> fold generator -> model registry loop ->
  * metric aggregation -> fold-pivot report CSV. Same YAML schema as
  * `docs/source/getting_started/config.md`.
  */
object Experiment {

  type Cfg = java.util.Map[String, Object]
  private def sub(m: Cfg, k: String): Cfg = m.get(k).asInstanceOf[Cfg]
  private def str(m: Cfg, k: String, d: String = null): String =
    Option(m.get(k)).map(_.toString).getOrElse(d)
  private def int(m: Cfg, k: String, d: Int): Int =
    Option(m.get(k)).map(_.toString.toInt).getOrElse(d)
  private def dbl(m: Cfg, k: String, d: Double): Double =
    Option(m.get(k)).map(_.toString.toDouble).getOrElse(d)
  /** A preprocess or model entry's `parameters`, empty when it has none. */
  private def parameters(p: Cfg): Cfg =
    Option(sub(p, "parameters")).getOrElse(new java.util.HashMap[String, Object]())
  private def list(m: Cfg, k: String): Seq[Cfg] =
    Option(m.get(k)).map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.asInstanceOf[Cfg]))
      .getOrElse(Seq.empty)
  /** `properties:` entries — plain column names in the shipped reference
    * configs (config_files/test.yml:17), `{type: ...}` maps in its
    * README; both forms resolve to the column name. */
  private def propertyNames(enrich: Cfg): Seq[String] =
    Option(enrich.get("properties"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map {
        case s: String => s
        case m         => str(m.asInstanceOf[Cfg], "type")
      }).getOrElse(Seq.empty)

  def main(args: Array[String]): Unit = {
    val configPath = args.sliding(2).collectFirst { case Array("-c", p) => p }
      .getOrElse(sys.error("usage: Experiment -c config.yml"))
    val spark = graft.LocalSession()
    run(spark, configPath)
    spark.stop()
  }

  /** A dataset config entry is either a bare path string or the
    * reference's nested `{path: ..., extra_features: [...]}` map
    * (config_files/test.yml). */
  private def cfgPath(ds: Cfg, key: String): Option[String] =
    Option(ds.get(key)).map {
      case s: String => s
      case m         => str(m.asInstanceOf[Cfg], "path")
    }
  private def features(ds: Cfg, key: String): Seq[String] =
    Option(ds.get(key)).toSeq.flatMap {
      case m: java.util.Map[_, _] =>
        Option(m.asInstanceOf[Cfg].get("extra_features"))
          .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString))
          .getOrElse(Seq.empty)
      case _ => Seq.empty
    }

  /** The loaded dataset: validated rating edges, optional dims, and the
    * two edge channels models consume (property edges feed the KG
    * triples; social edges feed only the walk graph). */
  case class DatasetBundle(ratings: DataFrame, users: Option[DataFrame],
                           items: Option[DataFrame], propertyEdges: Option[DataFrame],
                           socialEdges: Option[DataFrame])

  /** Most validated ratings [[loadDataset]] returns as a local table.
    *
    * Measured with perfbench etl-kcore (convert/map/enrich, binarize, 4
    * k-core passes, a timestamp split with a random validation split,
    * popularity) on a 4-core host with a 7 GB driver heap: `experiment_s`
    * at `--trace 0`, driver spine vs Spark spine, by input ratings: 90k
    * 19.6 vs 26.0 s (medians of 10 pairs); 200k 23.9, 29.1 vs 28.7,
    * 32.8 s; 360k 30.4, 30.9 vs 31.8, 35.3 s; 600k 45.9, 45.1 vs 39.1,
    * 47.2 s; 1M 60.5, 57.3 vs 48.8, 51.7 s. The driver spine wins every
    * pair up to 360k, with a lower peak RSS (3.5-3.7 vs 4.9-5.0 GB at
    * 360k); at 600k it wins one pair of two, and at 1M it loses both,
    * where its sorts and groupings over `Row`s cost more than the Spark
    * plans' jobs. The bound sits under the largest size it always won;
    * no size between 360k and 600k was measured. */
  val MaxDriverRatings: Long = 300000L

  /** Input bytes per rating of the workload [[MaxDriverRatings]] was
    * measured on: perfbench etl-kcore's experiment inputs (seed 1001,
    * 90k ratings) are 2,401,052 bytes of `rating.csv`, `item.csv` and
    * `map.csv` part files, 26.7 bytes per rating (`rating.csv` alone
    * 25.8). */
  private val BytesPerRating: Long = 27L

  /** Most input bytes [[loadDataset]] reads on the driver:
    * [[MaxDriverRatings]] ratings of [[BytesPerRating]] bytes each, the
    * summed size of every file the dataset names (ratings, item and user
    * dims, `map.csv`, the enriched table, social links). Under it the
    * whole load runs on the driver and starts no Spark job: each CSV is
    * read by [[TypedCsv.readLocal]], and the dedup, the endpoint
    * validation, `remove_unmatched`, the property edges and the social
    * links are Spark plans over local tables, folded on the driver where
    * they are read (`Shim.localTable`). A larger input, or one that is not
    * a file or a directory of files, is read by Spark as before.
    *
    * Measured on perfbench etl-kcore inputs (seeds 5001-5003, 4 cores),
    * `Experiment.run` in a fresh JVM, then twice more in it, driver load
    * against Spark load with the same row gate, two JVMs a side, `load_s`
    * and the call's wall seconds:
    *  - 200k ratings, 5.39 MB: cold load 4.4-5.0 s against 7.6-8.4 s (call
    *    8.3-9.6 s against 11.2-12.9 s); warm load 1.7-2.2 s both ways.
    *  - 270k ratings, 7.29 MB: cold load 5.7-8.0 s against 9.2-9.3 s (call
    *    11.8-14.9 s against 15.2-15.5 s); warm load 2.5-3.7 s against
    *    2.0-2.3 s, so a warm driver load loses up to 1.5 s here.
    *  - 360k ratings, 9.76 MB, over this bound: the validated ratings pass
    *    the row gate too, and the driver-read table went on (before a
    *    driver read kept its ratings local) as a Spark frame over driver
    *    rows; cold call 22.6-23.6 s against 19.4-21.0 s,
    *    warm 8.9-11.7 s against 5.4-6.5 s.
    * No size between 270k and 360k was measured. */
  val MaxDriverBytes: Long = MaxDriverRatings * BytesPerRating

  /** Whether the inputs at `paths` are read on the driver under the row
    * bound `maxDriverRows`: each is a file or a directory of files
    * (`LocalCsv.files`, which [[TypedCsv.readLocal]] reads), and their
    * bytes sum to at most `maxDriverRows` ratings' worth
    * ([[MaxDriverBytes]] at [[MaxDriverRatings]]). Lists, reads nothing. */
  private[graft] def readsOnDriver(spark: SparkSession, paths: Seq[String], maxDriverRows: Long): Boolean = {
    val bound = maxDriverRows * BytesPerRating
    paths.iterator.map(LocalCsv.files(spark, _).map(_.map(_.getLen).sum))
      .foldLeft(Option(0L))((sum, bytes) => for (s <- sum; b <- bytes if s + b <= bound) yield s + b)
      .isDefined
  }

  /** Duplicate (user, item) edges: last-wins in nx, whose deterministic
    * analogue here is the max rating and the max ts (0 without a ts
    * column). */
  private[graft] def dedupRatings(raw: DataFrame): DataFrame =
    raw.groupBy("user_id", "item_id")
      .agg(max("rating").as("rating"), (if (raw.columns.contains("ts")) max("ts") else lit(0L)).as("ts"))

  /** The `remove_unmatched` filter (graph.py:222-230): the item ids
    * whose `map.csv` row has a non-null URI, to semi-join the items with.
    * With remove_unmatched set the reference hard-fails (KeyError on
    * df_item['URI']) when the map file lacks a URI column, so this fails
    * fast the same way rather than guess a match column. A semi join
    * ignores duplicate keys on its right, so the ids are not made
    * distinct. */
  private[graft] def matchedItems(map: DataFrame): DataFrame = {
    require(map.columns.contains("URI"),
      s"enrich map file has no 'URI' column (found: ${map.columns.mkString(", ")}); " +
        "remove_unmatched filters on non-null URI (graph.py:226-227)")
    map.filter(col("URI").isNotNull).select("item_id")
  }

  /** Graph assembly from the `dataset:` block (`Graph.build`,
    * graph.py:28-35): items + user info + ratings + social links.
    *
    * Two driver gates. Input files of at most [[MaxDriverBytes]] in all
    * are read and assembled on the driver ([[readsOnDriver]]): no Spark
    * job, and every returned table is a local table, the ratings folded
    * once into one however many rows they hold. Otherwise Spark
    * reads them, and a validated rating table of at most
    * [[MaxDriverRatings]] rows comes to the driver in one bounded collect
    * and is returned as a local table with the same schema. The
    * operators of the experiment spine (binarize, k-core, the splits,
    * popularity, MAP/nDCG) then run on the driver, which starts no Spark
    * job (`Shim.localTable`). A larger table stays a Spark plan, over the
    * rows of the gate's own scan: its jobs skip the stages that read and
    * aggregate the CSV. */
  def loadDataset(spark: SparkSession, ds: Cfg): DatasetBundle =
    loadDataset(spark, ds, MaxDriverRatings)

  /** [[loadDataset]] with the driver bound `maxDriverRows`, in ratings:
    * the byte gate is `maxDriverRows` ratings' worth of input. */
  private[graft] def loadDataset(spark: SparkSession, ds: Cfg, maxDriverRows: Long): DatasetBundle = {
    val ratingsPath = cfgPath(ds, "ratings").getOrElse(sys.error("dataset.ratings is required"))
    // the enrich block: the shipped reference configs key the enriched
    // table as `enrich_path` (config_files/test.yml:15) and list
    // `properties` as plain column names; the README shows `{type: ...}`
    // maps. Both are accepted, plus this repo's earlier
    // `enriched_path`/`path` aliases
    val enrichCfg = Option(sub(ds, "enrich"))
    val mapPath = for { e <- enrichCfg; p <- Option(str(e, "map_path")) } yield p
    val enrichPath = for { e <- enrichCfg; p <- Option(str(e, "enrich_path",
      str(e, "enriched_path", str(e, "path")))) } yield p
    val onDriver = readsOnDriver(spark, ratingsPath +: Seq(cfgPath(ds, "user"), cfgPath(ds, "item"),
      mapPath, enrichPath, cfgPath(ds, "social")).flatten, maxDriverRows)
    val read: String => DataFrame =
      if (onDriver) TypedCsv.readLocal(spark, _) else TypedCsv.read(spark, _)

    val ratingsRaw = read(ratingsPath)
      .withColumnRenamed("timestamp", "ts")
      .withColumn("rating", col("rating").cast("double"))
    val users = cfgPath(ds, "user").map(read)
    val itemsRaw = cfgPath(ds, "item").map(read)

    // enrich block (graph.py:222-230): `map.csv` left-merges its match
    // columns (URI, ...) into the item table — matched items gain an
    // Item -has-> Property(value, col) edge per non-id map column — and
    // `remove_unmatched: true` drops UNmatched items from the graph
    // entirely, which cascades into the rating-edge validation below
    // (exactly as dropping the item node does in nx). Without
    // remove_unmatched the reference never touches URI
    val mapDf = mapPath.map(read)
    val removeUnmatched =
      enrichCfg.exists(e => str(e, "remove_unmatched", "false").toBoolean)
    val matched = if (removeUnmatched) mapDf.map(matchedItems) else None
    val items = (itemsRaw, matched) match {
      case (Some(i), Some(mm)) => Some(i.join(mm, Seq("item_id"), "left_semi"))
      case _ => itemsRaw
    }
    var ratings = dedupRatings(ratingsRaw)
    // J4 endpoint validation when dims are present (graph.py:293-302)
    for (u <- users) ratings = ratings.join(u.select("user_id"), Seq("user_id"), "left_semi")
    for (i <- items) ratings = ratings.join(i.select("item_id"), Seq("item_id"), "left_semi")
    // a driver read's chain is folded once into one local table, however
    // many rows it holds. After a Spark read the row gate's scan reads
    // every row; a table over the bound goes on as a frame over the
    // scan's own RDD (`Dataset.rdd`, one per Dataset), whose shuffle
    // output later jobs reuse instead of reading the CSV
    ratings =
      if (Shim.isLocal(ratings)) Shim.localTable(ratings)
      else KGraph.collectRows(ratings, maxDriverRows) match {
        case Some(rows) => spark.createDataFrame(java.util.Arrays.asList(rows: _*), ratings.schema)
        case None => spark.createDataFrame(ratings.rdd, ratings.schema)
      }

    // property edges, four sources into one channel:
    // item extra_features + map-match columns + enriched-table columns
    // (Item -has-> Property, graph.py:217-244) and user extra_features
    // (User -is-> Property, graph.py:271-286); with an item table
    // present, map/enrich sources are confined to its (possibly
    // remove_unmatched-filtered) item set, mirroring the reference's
    // left-merge onto df_item
    val itemFeatureEdges = items.flatMap(i =>
      KGraph.propertyEdges(i, "item_id", isUser = false, features(ds, "item")))
    val mapEdges: Option[DataFrame] = mapDf.flatMap { m =>
      val base = items.map(_.select("item_id").join(m, Seq("item_id"), "left")).getOrElse(m)
      KGraph.propertyEdges(base, "item_id", isUser = false,
        m.columns.filterNot(_ == "item_id").toSeq)
    }
    val enrichEdges: Option[DataFrame] = for {
      enrich <- enrichCfg
      path <- enrichPath
      edges <- {
        val enriched0 = read(path)
        val enriched = items.map(i =>
          enriched0.join(i.select("item_id"), Seq("item_id"), "left_semi")).getOrElse(enriched0)
        KGraph.propertyEdges(enriched, "item_id", isUser = false, propertyNames(enrich))
      }
    } yield edges
    val userFeatureEdges = users.flatMap(u =>
      KGraph.propertyEdges(u, "user_id", isUser = true, features(ds, "user")))
    val propertyEdges = Seq(itemFeatureEdges, mapEdges, enrichEdges, userFeatureEdges)
      .flatten.reduceOption(_ unionByName _)

    // social links (graph.py:304-314): User–User edges, both endpoints
    // validated against the known-user set (a semi join ignores duplicate
    // keys, so the raters are not made distinct)
    val socialEdges = cfgPath(ds, "social").map { p =>
      val pairs = read(p)
      val known = users.getOrElse(ratings).select("user_id")
      graft.etl.Converters.socialLinks(pairs, known)
        .select(
          KGraph.userLabel(col("user1")).as("src_label"),
          lit("social").as("relation"),
          KGraph.userLabel(col("user2")).as("dst_label"))
    }
    DatasetBundle(ratings, users, items, propertyEdges, socialEdges)
  }

  /** Two configured models can produce the same name() string (the
    * unbiased 'deepwalk' and 'node2vec' registry entries when p/q/
    * embedding_size match, or two same-dim configs of one KGE model,
    * whose names embed only embedding_dim). Report rows key on name(),
    * so a collision would let foldPivot's first()/mean/std mix metrics
    * from two different models into one row nondeterministically —
    * dedup last-wins per (model, fold) so a collision degrades
    * deterministically (the later-listed model's numbers win), the
    * closest per-fold analogue of the reference's dict-keyed rows. */
  private[graft] def dedupLastWins[V, T](
      rows: Seq[(String, Int, V, T)]): Seq[(String, Int, V, T)] = {
    val d = rows.zipWithIndex
      .groupBy { case ((model, fold, _, _), _) => (model, fold) }
      .map(_._2.last).toSeq.sortBy(_._2).map(_._1)
    if (d.size < rows.size)
      System.err.println(s"warning: ${rows.size - d.size} report row(s) dropped — " +
        "multiple configured models share the same name(); last configuration wins")
    d
  }

  /** Every Spark job `body` starts carries `label` as its description,
    * and the caller's own description comes back afterwards. Returns
    * `body`'s value and its seconds. */
  private def labelled[T](spark: SparkSession, label: String)(body: => T): (T, Double) = {
    val previous = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(label)
    val t0 = System.nanoTime()
    try (body, (System.nanoTime() - t0) / 1e9)
    finally spark.sparkContext.setJobDescription(previous)
  }

  /** The preprocess list, checked before any data loads: every method
    * name and k-core target. */
  private def checkPreprocess(steps: Seq[Cfg]): Unit = steps.foreach { p =>
    str(p, "method") match {
      case "binarize" =>
      case "filter_kcore" => Preprocess.kcoreKey(str(parameters(p), "target", "user"))
      case other => throw new IllegalArgumentException(s"Preprocessing method $other is not implemented.")
    }
  }

  /** A test or validation split entry, checked before any data loads:
    * its method and arguments ([[EdgeSplits.checkSplit]]) and
    * fixed_timestamp's integer `timestamp`. */
  private def checkSplit(c: Cfg, defaultMethod: String): Unit = {
    val method = str(c, "method", defaultMethod)
    EdgeSplits.checkSplit(method, dbl(c, "p", 0.2), int(c, "k", 2), str(c, "level", "user"))
    if (method == "fixed_timestamp")
      require(Option(str(c, "timestamp")).exists(_.toLongOption.isDefined),
        s"fixed_timestamp needs an integer timestamp, got ${str(c, "timestamp")}")
  }

  /** Parse + run; returns the report DataFrame (also written to the
    * configured report file). */
  def run(spark: SparkSession, configPath: String): DataFrame =
    run(spark, configPath, MaxDriverRatings)

  /** [[run]] with the load gates' bound `maxDriverRows`: 0 has Spark read
    * a small experiment's inputs and keeps its ratings a Spark plan, so
    * its spine runs the Spark forms. */
  private[graft] def run(spark: SparkSession, configPath: String, maxDriverRows: Long): DataFrame = {
    val root = scala.util.Using.resource(new java.io.FileInputStream(configPath))(new Yaml().load[Object](_))
      .asInstanceOf[Cfg]
    val exp = sub(root, "experiment")

    // the whole config is checked before any data loads, so a typo in a
    // model, metric, preprocess or split entry fails fast with the name
    val eval = sub(exp, "evaluation")
    val k = int(eval, "k", 5)
    val relThr = dbl(eval, "relevance_threshold", 3.0)
    val metricNames = Option(eval.get("metrics"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString))
      .getOrElse(Seq("MAP"))
    metricNames.foreach(mn => require(mn == "MAP" || mn == "nDCG", s"Metric $mn is not implemented."))
    val registry = Recommenders.registry
    list(exp, "models").map(str(_, "name")).foreach(mn => require(registry.contains(mn),
      s"Model $mn is not implemented; known models: ${registry.keys.toSeq.sorted.mkString(", ")}."))
    val preprocess = list(exp, "preprocess")
    checkPreprocess(preprocess)
    // split config (edge_splitter.py:28-73); the optional nested
    // validation split (dataloader.py:32-40) accepts any splitter method
    // (default random_by_ratio), k_fold-on-k_fold rejected with the
    // reference's error
    val split = sub(exp, "split")
    val seed = int(split, "seed", 42).toLong
    val test = sub(split, "test")
    val validation = Option(split.get("validation")).map(_.asInstanceOf[Cfg])
    checkSplit(test, null)
    validation.foreach { vc =>
      checkSplit(vc, "random_by_ratio")
      if (str(test, "method") == "k_fold" && str(vc, "method", "random_by_ratio") == "k_fold")
        throw new IllegalArgumentException("Validation split does not support k_fold method.")
    }

    // load, preprocess and split each run under an "experiment: <stage>"
    // job description; their seconds go to the report's <stage>_s column
    val stageSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage[T](name: String)(body: => T): T = {
      val (out, secs) = labelled(spark, s"experiment: $name")(body)
      stageSecs(name) = secs
      out
    }

    // dataset: standardized typed-CSV paths (experiment.py:38 load(**cfg));
    // a small rating table leaves load as a local table
    val bundle = stage("load")(loadDataset(spark, sub(exp, "dataset"), maxDriverRows))
    val propertyEdges = bundle.propertyEdges

    val ratings = stage("preprocess") {
      val kcoreCaches = new graft.prep.KCoreCaches
      val prepped = preprocess.foldLeft(bundle.ratings) { (r, p) =>
        val ps = parameters(p)
        str(p, "method") match {
          case "binarize" => Preprocess.binarize(r, dbl(ps, "threshold", 3.0))
          case "filter_kcore" => Preprocess.filterKCore(r,
            int(ps, "k", 2), str(ps, "target", "user"),
            int(ps, "iterations", 1), kcoreCaches)
        }
      }
      // k-core leaves its kill-set caches live inside a Spark lineage
      // (caller-owned contract): materialize the preprocessed ratings
      // once, then drop the loop caches before the fold runs. A local
      // table is materialized already.
      if (!Shim.isLocal(prepped)) {
        prepped.cache()
        if (preprocess.exists(p => str(p, "method") == "filter_kcore")) {
          prepped.count(); kcoreCaches.release()
        }
      }
      prepped
    }

    val splitCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    // one splitter application — shared by the test split and the nested
    // validation split, which accepts the SAME method surface and seed
    // (dataloader.py:23-40 constructs a second EdgeSplitter(G_train,
    // seed=seed) and dispatches split_config['validation'] through it).
    // A local input splits on the driver, here; a Spark one stays lazy.
    def applySplit(df: DataFrame, c: Cfg, defaultMethod: String): Seq[(DataFrame, DataFrame)] = {
      def trainTest(a: DataFrame) =
        Seq((a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test")))
      str(c, "method", defaultMethod) match {
        case "k_fold" =>
          val k = int(c, "k", 2)
          val assigned = EdgeSplits.kFoldRandom(df, k, str(c, "level", "user"), seed)
          if (!Shim.isLocal(assigned)) splitCaches += assigned.cache()
          (1 to k).map(i => (assigned.filter(col("fold") =!= i).drop("fold"),
            assigned.filter(col("fold") === i).drop("fold")))
        case "random_by_ratio" =>
          trainTest(EdgeSplits.randomByRatio(df, dbl(c, "p", 0.2), str(c, "level", "user"), seed))
        case "timestamp_by_ratio" =>
          trainTest(EdgeSplits.timestampByRatio(df, dbl(c, "p", 0.2), str(c, "level", "user")))
        case "fixed_timestamp" =>
          trainTest(EdgeSplits.fixedTimestamp(df, str(c, "timestamp").toLong))
      }
    }
    val (nFolds, foldsWithVal) = stage("split") {
      val folds = applySplit(ratings, test, null)
      // .last mirrors the reference's generator loop, whose final
      // iteration's G_train is what reaches training
      (folds.size, validation.fold(folds)(vc => folds.map { case (train, tst) =>
        (applySplit(train, vc, "random_by_ratio").last._1, tst)
      }))
    }

    // a model that does not read local tables gets its fold as cached
    // Spark frames over an RDD, built once per fold on first use. On 90k
    // ratings and 4 cores, ALS, implicit ALS, BPR and Item2Vec took
    // 1.5-1.8x their Spark-spine fold time over the local tables, and as
    // long over a cached repartition of them; over these copies their
    // median fold time is 16% under to 2% over the Spark spine's
    val sparkFolds = scala.collection.mutable.Map.empty[Int, (DataFrame, DataFrame)]
    def sparkFold(i: Int): (DataFrame, DataFrame) = sparkFolds.getOrElseUpdate(i, {
      val Seq(train, test) = Seq(foldsWithVal(i)._1, foldsWithVal(i)._2).map { df =>
        Shim.localRows(df).fold(df) { rows =>
          val c = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), df.schema).cache()
          splitCaches += c
          c
        }
      }
      (train, test)
    })

    // model loop (experiment.py:60-88)
    val rows = for {
      m <- list(exp, "models")
      modelName = str(m, "name")
      cfgMap = parameters(m).asScala.map { case (kk, v) => kk -> v.toString }.toMap
      (localFold, foldIdx) <- foldsWithVal.zipWithIndex
    } yield {
      val model = registry(modelName)(cfgMap)
      val (train, testDf) = if (model.readsLocalTables) localFold else sparkFold(foldIdx)
      val t0 = System.nanoTime()
      val phaseSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      // every Spark job of a phase is labelled "<model> fold <i>: <phase>",
      // and so is a failure inside it, with the original as its cause;
      // the phase's seconds go to the report's fold-<i>_<phase>_s column
      def phase[T](name: String)(body: => T): T = {
        val label = s"$modelName fold ${foldIdx + 1}: $name"
        val (out, secs) =
          try labelled(spark, label)(body)
          catch { case scala.util.control.NonFatal(e) => throw new RuntimeException(label, e) }
        phaseSecs += secs
        out
      }
      val rec = phase("train")(model.train(spark, train, propertyEdges, bundle.socialEdges))
      // recs is read once, by meansAtK: a lazy Spark ranking runs inside
      // the eval phase, a driver-built local table costs no job at all
      val recs = phase("recommend")(rec.recommend(k))
      val mm = phase("eval")(Shim.first(Metrics.meansAtK(recs, testDf, k, relThr)))
      val vals = metricNames.map {
        case "MAP" => "MAP" -> mm.getDouble(mm.fieldIndex("map"))
        case "nDCG" => "nDCG" -> mm.getDouble(mm.fieldIndex("ndcg"))
      }
      rec.release() // per-fold embedding/vocab caches must not outlive the fold
      val secs = (System.nanoTime() - t0) / 1e9
      // report rows key on the model's verbose parameter-bearing name()
      // (experiment.py:88 `model_metrics[model.name()]`) — the config
      // `name:` alone cannot tell two parameterizations of one model
      // apart, and the reference's run1.csv relies on this distinction
      (rec.name, foldIdx + 1, vals, secs +: phaseSecs.toSeq)
    }

    // the metric rows above are local Scala values — the run's shared
    // caches (preprocessed ratings, fold assignment) are dead weight for
    // the report and must not outlive the experiment in a long session
    if (!Shim.isLocal(ratings)) ratings.unpersist(blocking = false)
    splitCaches.foreach(_.unpersist(blocking = false))

    val dedupedRows = dedupLastWins(rows)

    // mean±std report (experiment.py:93-106, report.py:31-63): the
    // metric and execution_time pivots side by side, then the load,
    // preprocess and split seconds (load_s, preprocess_s, split_s), then
    // the per-phase seconds of each fold (fold-<i>_train_s, _recommend_s,
    // _eval_s)
    val withStats = metricNames.map(mn => s"$mn@$k") :+ "execution_time"
    val pivot = Reporter.pivotTable(spark, StructField("model", StringType),
      withStats.map(_ -> true) ++ Seq("train_s", "recommend_s", "eval_s").map(_ -> false),
      dedupedRows.map { case (model, fold, vals, times) => (model, fold, vals.map(_._2) ++ times) },
      nFolds)
    val (summary, foldPhases) = pivot.columns.toSeq.span(_ != "fold-1_train_s")
    val report = pivot.select(summary.map(col) ++
      stageSecs.map { case (name, secs) => lit(secs).as(s"${name}_s") } ++ foldPhases.map(col): _*)
    val timeReport = report.select(report.columns.toSeq
      .filter(c => c == "model" || c.contains("execution_time")).map(col): _*)

    for (r <- Option(sub(exp, "report")); f <- Option(str(r, "file"))) {
      // the FILE takes the reference's artifact shape (fold-major, no
      // execution_time columns, hold-out collapse — report.py:31-63);
      // the returned DataFrame keeps the full layout for callers
      Reporter.writeCsv(Reporter.referenceArtifact(report, metricNames, k, nFolds), f)
    }
    // separate execution-times CSV with the machine spec folded into the
    // model name (experiment.py:108-113, report.py:86-101)
    for (r <- Option(sub(exp, "report")); et <- Option(sub(r, "execution_times"));
         f <- Option(str(et, "file"))) {
      Reporter.writeCsv(
        timeReport.withColumn("model",
          concat(col("model"), lit(s" (${Reporter.machineSpec})"))), f)
    }
    report
  }
}
