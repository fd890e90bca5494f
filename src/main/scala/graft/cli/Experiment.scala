package graft.cli

import graft.eval.Metrics
import graft.model.Recommenders
import graft.prep.Preprocess
import graft.report.Reporter
import graft.schema.TypedCsv
import graft.split.EdgeSplits
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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

  /** Entity-column -> Property-edge explosion (`_add_node_property`,
    * graph.py:246-257) — hoisted to [[graft.graph.KGraph.propertyEdges]]
    * so the q174 oracle gates the exact construction this loader feeds
    * into `triples: all` training. */
  private def propertyEdgesFrom(df: DataFrame, idCol: String, isUser: Boolean,
                                cols: Seq[String]): Option[DataFrame] =
    graft.graph.KGraph.propertyEdges(df, idCol, isUser, cols)

  /** The loaded dataset: validated rating edges, optional dims, and the
    * two edge channels models consume (property edges feed the KG
    * triples; social edges feed only the walk graph). */
  case class DatasetBundle(ratings: DataFrame, users: Option[DataFrame],
                           items: Option[DataFrame], propertyEdges: Option[DataFrame],
                           socialEdges: Option[DataFrame])

  /** Graph assembly from the `dataset:` block (`Graph.build`,
    * graph.py:28-35): items + user info + ratings + social links. */
  def loadDataset(spark: SparkSession, ds: Cfg): DatasetBundle = {
    import graft.graph.KGraph
    val ratingsRaw = TypedCsv.read(spark, cfgPath(ds, "ratings").getOrElse(
        sys.error("dataset.ratings is required")))
      .withColumnRenamed("timestamp", "ts")
      .withColumn("rating", col("rating").cast("double"))
    val users = cfgPath(ds, "user").map(TypedCsv.read(spark, _))
    val itemsRaw = cfgPath(ds, "item").map(TypedCsv.read(spark, _))

    // enrich block (graph.py:222-230): `map.csv` left-merges its match
    // columns (URI, ...) into the item table — matched items gain an
    // Item -has-> Property(value, col) edge per non-id map column — and
    // `remove_unmatched: true` drops UNmatched items from the graph
    // entirely, which cascades into the rating-edge validation below
    // (exactly as dropping the item node does in nx). The shipped
    // reference configs key the enriched table as `enrich_path`
    // (config_files/test.yml:15) and list `properties` as plain column
    // names; the README shows `{type: ...}` maps — both are accepted,
    // plus this repo's earlier `enriched_path`/`path` aliases.
    val enrichCfg = Option(sub(ds, "enrich"))
    val mapDf = for { e <- enrichCfg; p <- Option(str(e, "map_path")) }
      yield TypedCsv.read(spark, p)
    val removeUnmatched =
      enrichCfg.exists(e => str(e, "remove_unmatched", "false").toBoolean)
    // match predicate: non-null URI (graph.py:226-227). With
    // remove_unmatched set the reference hard-fails (KeyError on
    // df_item['URI']) when the map file lacks a URI column — fail fast
    // the same way rather than silently guessing a match column and
    // filtering the item set on the wrong thing. Without
    // remove_unmatched the reference never touches URI, so no matched
    // set is needed at all.
    val matchedIds = if (removeUnmatched) mapDf.map { m =>
      require(m.columns.contains("URI"),
        s"enrich map file has no 'URI' column (found: ${m.columns.mkString(", ")}); " +
          "remove_unmatched filters on non-null URI (graph.py:226-227)")
      m.filter(col("URI").isNotNull).select("item_id").distinct()
    } else None
    val items = (itemsRaw, matchedIds) match {
      case (Some(i), Some(mm)) => Some(i.join(mm, Seq("item_id"), "left_semi"))
      case _ => itemsRaw
    }
    // duplicate (user,item) edges: last-wins in nx — deterministic analogue max
    var ratings = ratingsRaw.groupBy("user_id", "item_id")
      .agg(max("rating").as("rating"),
        (if (ratingsRaw.columns.contains("ts")) max("ts") else lit(0L)).as("ts"))
    // J4 endpoint validation when dims are present (graph.py:293-302)
    for (u <- users) ratings = ratings.join(u.select("user_id"), Seq("user_id"), "left_semi")
    for (i <- items) ratings = ratings.join(i.select("item_id"), Seq("item_id"), "left_semi")

    // property edges, four sources into one channel:
    // item extra_features + map-match columns + enriched-table columns
    // (Item -has-> Property, graph.py:217-244) and user extra_features
    // (User -is-> Property, graph.py:271-286); with an item table
    // present, map/enrich sources are confined to its (possibly
    // remove_unmatched-filtered) item set, mirroring the reference's
    // left-merge onto df_item
    val itemFeatureEdges = items.flatMap(i =>
      propertyEdgesFrom(i, "item_id", isUser = false, features(ds, "item")))
    val mapEdges: Option[DataFrame] = mapDf.flatMap { m =>
      val base = items.map(i => i.select("item_id").join(m, Seq("item_id"), "left")).getOrElse(m)
      propertyEdgesFrom(base, "item_id", isUser = false,
        m.columns.filterNot(_ == "item_id").toSeq)
    }
    val enrichEdges: Option[DataFrame] = for {
      enrich <- enrichCfg
      path <- Option(str(enrich, "enrich_path",
        str(enrich, "enriched_path", str(enrich, "path"))))
      edges <- {
        val enriched0 = TypedCsv.read(spark, path)
        val enriched = items.map(i =>
          enriched0.join(i.select("item_id"), Seq("item_id"), "left_semi")).getOrElse(enriched0)
        propertyEdgesFrom(enriched, "item_id", isUser = false, propertyNames(enrich))
      }
    } yield edges
    val userFeatureEdges = users.flatMap(u =>
      propertyEdgesFrom(u, "user_id", isUser = true, features(ds, "user")))
    val propertyEdges = Seq(itemFeatureEdges, mapEdges, enrichEdges, userFeatureEdges)
      .flatten.reduceOption(_ unionByName _)

    // social links (graph.py:304-314): User–User edges, both endpoints
    // validated against the known-user set
    val socialEdges = cfgPath(ds, "social").map { p =>
      val pairs = TypedCsv.read(spark, p)
      val known = users.map(_.select("user_id"))
        .getOrElse(ratings.select("user_id").distinct())
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

  /** Parse + run; returns the report DataFrame (also written to the
    * configured report file). */
  def run(spark: SparkSession, configPath: String): DataFrame = {
    val root = new Yaml().load(new java.io.FileInputStream(configPath))
      .asInstanceOf[Cfg]
    val exp = sub(root, "experiment")

    // evaluation config; every model and metric name is checked before
    // any data loads, so a typo fails fast with the name
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

    // dataset: standardized typed-CSV paths (experiment.py:38 load(**cfg))
    val bundle = loadDataset(spark, sub(exp, "dataset"))
    var ratings = bundle.ratings
    val propertyEdges = bundle.propertyEdges

    val kcoreCaches = new graft.prep.KCoreCaches
    var ranKCore = false
    for (p <- list(exp, "preprocess")) {
      val params = sub(p, "parameters")
      str(p, "method") match {
        case "binarize" => ratings = Preprocess.binarize(ratings, dbl(params, "threshold", 3.0))
        case "filter_kcore" =>
          ratings = Preprocess.filterKCore(ratings,
            int(params, "k", 2), str(params, "target", "user"),
            int(params, "iterations", 1), kcoreCaches)
          ranKCore = true
        case other => throw new IllegalArgumentException(
          s"Preprocessing method $other is not implemented.")
      }
    }
    ratings = ratings.cache()
    // k-core leaves its kill-set caches live inside the lineage
    // (caller-owned contract): materialize the preprocessed ratings once,
    // then drop the loop caches before the fold runs
    if (ranKCore) { ratings.count(); kcoreCaches.release() }

    // split config (edge_splitter.py:28-73)
    val split = sub(exp, "split")
    val seed = int(split, "seed", 42).toLong
    val test = sub(split, "test")
    val splitCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    // one splitter application — shared by the test split and the nested
    // validation split, which accepts the SAME method surface and seed
    // (dataloader.py:23-40 constructs a second EdgeSplitter(G_train,
    // seed=seed) and dispatches split_config['validation'] through it)
    def applySplit(df: DataFrame, c: Cfg, defaultMethod: String): Seq[(DataFrame, DataFrame)] =
      str(c, "method", defaultMethod) match {
        case "k_fold" =>
          val k = int(c, "k", 2)
          val assigned = EdgeSplits.kFoldRandom(df, k, str(c, "level", "user"), seed).cache()
          splitCaches += assigned
          (1 to k).map(i => (assigned.filter(col("fold") =!= i).drop("fold"),
            assigned.filter(col("fold") === i).drop("fold")))
        case "random_by_ratio" =>
          val a = EdgeSplits.randomByRatio(df, dbl(c, "p", 0.2), str(c, "level", "user"), seed)
          Seq((a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test")))
        case "timestamp_by_ratio" =>
          val a = EdgeSplits.timestampByRatio(df, dbl(c, "p", 0.2), str(c, "level", "user"))
          Seq((a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test")))
        case "fixed_timestamp" =>
          val a = EdgeSplits.fixedTimestamp(df, str(c, "timestamp").toLong)
          Seq((a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test")))
        case other => throw new IllegalArgumentException(s"Invalid split method $other")
      }
    val folds: Seq[(DataFrame, DataFrame)] = applySplit(ratings, test, null)

    // optional nested validation split (dataloader.py:32-40): carve a
    // validation set out of each fold's train part with the same engine —
    // any splitter method (default random_by_ratio), k_fold-on-k_fold
    // rejected with the reference's error
    val foldsWithVal: Seq[(DataFrame, DataFrame)] = Option(split.get("validation")) match {
      case Some(v) =>
        val vc = v.asInstanceOf[Cfg]
        if (str(test, "method") == "k_fold" && str(vc, "method", "random_by_ratio") == "k_fold")
          throw new IllegalArgumentException("Validation split does not support k_fold method.")
        folds.map { case (train, tst) =>
          // .last mirrors the reference's generator loop, whose final
          // iteration's G_train is what reaches training
          val (carved, _) = applySplit(train, vc, "random_by_ratio").last
          (carved, tst)
        }
      case None => folds
    }

    // model loop (experiment.py:60-88)
    val rows = for {
      m <- list(exp, "models")
      modelName = str(m, "name")
      params = Option(sub(m, "parameters")).getOrElse(new java.util.HashMap[String, Object]())
      cfgMap = params.asScala.map { case (kk, v) => kk -> v.toString }.toMap
      ((train, testDf), foldIdx) <- foldsWithVal.zipWithIndex
    } yield {
      val t0 = System.nanoTime()
      val phaseSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      // every Spark job of a phase is labelled "<model> fold <i>: <phase>";
      // the caller's own job description comes back afterwards. The
      // phase's seconds go to the report's fold-<i>_<phase>_s column.
      def phase[T](name: String)(body: => T): T = {
        val previous = spark.sparkContext.getLocalProperty("spark.job.description")
        spark.sparkContext.setJobDescription(s"$modelName fold ${foldIdx + 1}: $name")
        val p0 = System.nanoTime()
        try body finally {
          phaseSecs += (System.nanoTime() - p0) / 1e9
          spark.sparkContext.setJobDescription(previous)
        }
      }
      val rec = phase("train")(registry(modelName)(cfgMap)
        .train(spark, train, propertyEdges, bundle.socialEdges))
      // recs is read once, by meansAtK: a lazy Spark ranking runs inside
      // the eval phase, a driver-built local table costs no job at all
      val recs = phase("recommend")(rec.recommend(k))
      val mm = phase("eval")(Metrics.meansAtK(recs, testDf, k, relThr).first())
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
    ratings.unpersist(blocking = false)
    splitCaches.foreach(_.unpersist(blocking = false))

    val dedupedRows = dedupLastWins(rows)

    // mean±std report (experiment.py:93-106, report.py:31-63): the
    // metric and execution_time pivots side by side, then the per-phase
    // seconds of each fold (fold-<i>_train_s, _recommend_s, _eval_s)
    val withStats = metricNames.map(mn => s"$mn@$k") :+ "execution_time"
    val report = Reporter.pivotTable(spark, StructField("model", StringType),
      withStats.map(_ -> true) ++ Seq("train_s", "recommend_s", "eval_s").map(_ -> false),
      dedupedRows.map { case (model, fold, vals, times) => (model, fold, vals.map(_._2) ++ times) },
      folds.size)
    val timeReport = report.select(report.columns.toSeq
      .filter(c => c == "model" || c.contains("execution_time")).map(col): _*)

    for (r <- Option(sub(exp, "report")); f <- Option(str(r, "file"))) {
      // the FILE takes the reference's artifact shape (fold-major, no
      // execution_time columns, hold-out collapse — report.py:31-63);
      // the returned DataFrame keeps the full layout for callers
      Reporter.writeCsv(Reporter.referenceArtifact(report, metricNames, k, folds.size), f)
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
