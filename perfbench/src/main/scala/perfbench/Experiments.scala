package perfbench

import graft.cli.Experiment
import graft.eval.Metrics
import graft.model.Recommenders
import graft.prep.{KCoreCaches, Preprocess}
import graft.report.Reporter
import graft.split.EdgeSplits
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One ratio split step of an experiment config. */
final case class SplitCfg(method: String, p: Double, level: String = "user") {
  def yaml: String = s"{method: $method, p: $p, level: $level}"
}

/** A typed mirror of the experiment YAML the workloads use: `yaml` writes
  * the file `Experiment.run` reads, and [[Replay]] walks the same steps. */
final case class ExpCfg(ratings: String, enrich: Option[(String, Seq[String])],
                        preprocess: Seq[(String, Seq[(String, String)])],
                        test: SplitCfg, validation: Option[SplitCfg],
                        models: Seq[(String, Seq[(String, String)])],
                        k: Int, relevanceThreshold: Double, reportFile: String,
                        item: Option[String] = None, mapPath: Option[String] = None) {
  def yaml: String = {
    val parts = Seq(s"ratings: $ratings") ++ item.map(i => s"item: $i") ++
      enrich.map { case (p, props) => s"enrich: {enrich_path: $p, properties: [${props.mkString(", ")}]}" } ++
      mapPath.map(p => s"enrich: {map_path: $p, remove_unmatched: true}")
    val ds = parts.mkString("{", ", ", "}")
    def params(ps: Seq[(String, String)]) = ps.map { case (a, b) => s"$a: $b" }.mkString("{", ", ", "}")
    val prep = if (preprocess.isEmpty) "" else "  preprocess:\n" +
      preprocess.map { case (m, ps) => s"    - {method: $m, parameters: ${params(ps)}}\n" }.mkString
    val modelList = models.map { case (m, ps) => s"    - {name: $m, parameters: ${params(ps)}}\n" }.mkString
    s"""experiment:
       |  dataset: $ds
       |$prep  split:
       |    seed: 42
       |    test: ${test.yaml}
       |${validation.fold("")(v => s"    validation: ${v.yaml}\n")}  models:
       |$modelList  evaluation: {k: $k, relevance_threshold: $relevanceThreshold, metrics: [MAP, nDCG]}
       |  report: {file: $reportFile}
       |""".stripMargin
  }
}

object ExpCfg {
  /** The span a model's `train` call is recorded under. */
  def layer(model: String): String =
    if (graft.kge.KgeRecommender.registry.contains(model)) "kge"
    else if (graft.walk.DeepWalkRecommender.registry.contains(model)) "walk"
    else "model"
}

/** The report an experiment returns, reduced to what the checks and
  * metrics read: per model (name, MAP mean, nDCG mean, per-fold seconds). */
final case class ExpReport(rows: Seq[(String, Double, Double, Double)], columns: Seq[String]) {
  def models: Seq[String] = rows.map(_._1)
  /** Mean over the configured models. */
  def map: Double = rows.map(_._2).sum / rows.size
  def ndcg: Double = rows.map(_._3).sum / rows.size
  /** What one fold costs through every configured model. */
  def foldSeconds: Double = rows.map(_._4).sum
}

object ExpReport {
  def from(report: DataFrame, k: Int): ExpReport =
    ExpReport(report.collect().toSeq.map(r => (r.getAs[String]("model"),
      r.getAs[Double](s"MAP@${k}_mean"), r.getAs[Double](s"nDCG@${k}_mean"),
      r.getAs[Double]("execution_time_mean"))).sortBy(_._1), report.columns.toSeq)

  /** One row per model, the (single) fold's column for MAP, nDCG and time, and
    * both means in [0, 1]. Returns the names of the checks that failed. */
  def check(r: ExpReport, nModels: Int, k: Int): Seq[String] = {
    val want = Seq(s"MAP@$k", s"nDCG@$k", "execution_time").map(m => s"fold-1_$m")
    Seq(
      "report_one_row_per_model" -> (r.models.size == nModels && r.models.distinct.size == nModels),
      "report_fold_columns" -> want.forall(r.columns.contains),
      "map_in_unit_interval" -> r.rows.forall(x => x._2 >= 0 && x._2 <= 1),
      "ndcg_in_unit_interval" -> r.rows.forall(x => x._3 >= 0 && x._3 <= 1),
    ).collect { case (name, false) => name }
  }
}

/** Replays `Experiment.run` step by step through the same public calls, in
  * the same order, with a span around each call. It also keeps what the
  * per-user recommendation checks need, which the entry point does not
  * expose. `fault = "train-item"` plants a train item in one user's list. */
final class Replay(spark: SparkSession, cfg: ExpCfg, configPath: String, fault: String) {

  /** (train, test) of one ratio split, split seed 42 as in the YAML. */
  private def splitOf(df: DataFrame, c: SplitCfg): (DataFrame, DataFrame) = {
    val a = c.method match {
      case "random_by_ratio"    => EdgeSplits.randomByRatio(df, c.p, c.level, 42L)
      case "timestamp_by_ratio" => EdgeSplits.timestampByRatio(df, c.p, c.level)
    }
    (a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test"))
  }

  /** Runs the replay; returns (report, failed check names, train triples). */
  def run(tr: Tracer): (ExpReport, Seq[String], Long) = {
    val root = new org.yaml.snakeyaml.Yaml().load(new java.io.FileInputStream(configPath))
      .asInstanceOf[java.util.Map[String, Object]]
    val dsCfg = root.get("experiment").asInstanceOf[java.util.Map[String, Object]]
      .get("dataset").asInstanceOf[java.util.Map[String, Object]]
    val bundle = tr.span("cli.load")(Experiment.loadDataset(spark, dsCfg))
    var ratings = bundle.ratings
    val kcoreCaches = new KCoreCaches
    var ranKCore = false
    cfg.preprocess.foreach { case (method, ps) =>
      val p = ps.toMap
      method match {
        case "binarize" => ratings = tr.span("prep.binarize")(
          Preprocess.binarize(ratings, p("threshold").toDouble))
        case "filter_kcore" =>
          ratings = tr.span("prep.kcore")(Preprocess.filterKCore(ratings, p("k").toInt,
            p("target"), p("iterations").toInt, kcoreCaches))
          ranKCore = true
      }
    }
    ratings = ratings.cache()
    if (ranKCore) tr.span("prep.kcore") {
      tr.note("kept_edges", ratings.count().toDouble)
      kcoreCaches.release()
    }
    val (train, test) = tr.span("split.assign") {
      val (tr0, test) = splitOf(ratings, cfg.test)
      (cfg.validation.fold(tr0)(v => splitOf(tr0, v)._1), test)
    }
    val failed = scala.collection.mutable.Buffer.empty[String]
    var triples = 0L
    val rows = cfg.models.map { case (model, params) =>
      val t0 = System.nanoTime()
      val layer = ExpCfg.layer(model)
      val rec = tr.span(s"$layer.train")(Recommenders.registry(model)(params.toMap)
        .train(spark, train, bundle.propertyEdges, bundle.socialEdges))
      val recs = tr.span("model.recommend") {
        val r = rec.recommend(cfg.k).persist(StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }
      val mm = tr.span("eval.means")(Metrics.meansAtK(recs, test, cfg.k, cfg.relevanceThreshold).first())
      val secs = (System.nanoTime() - t0) / 1e9
      tr.span("check") {
        val checked = if (fault == "train-item") Replay.plantTrainItem(recs, train) else recs
        failed ++= Replay.checkRecs(checked, train, cfg.k).map(c => s"$model:$c")
        if (layer == "kge") triples += train.count() * params.toMap.get("epochs").fold(1L)(_.toLong)
      }
      recs.unpersist(blocking = false)
      rec.release()
      (rec.name, 1, mm.getDouble(mm.fieldIndex("map")), mm.getDouble(mm.fieldIndex("ndcg")), secs)
    }
    ratings.unpersist(blocking = false)
    val report = tr.span("report.pivot") {
      import spark.implicits._
      val nf = 1
      val reports = Seq("MAP" -> rows.map(r => (r._1, r._2, r._3)), "nDCG" -> rows.map(r => (r._1, r._2, r._4)))
        .map { case (mn, rs) => Reporter.foldPivot(rs.toDF("model", "fold", "value"), nf, s"$mn@${cfg.k}") }
      val times = Reporter.foldPivot(rows.map(r => (r._1, r._2, r._5)).toDF("model", "fold", "value"),
        nf, "execution_time")
      val full = (reports :+ times).reduce((a, b) => a.join(b, Seq("model")))
      Reporter.writeCsv(Reporter.referenceArtifact(full, Seq("MAP", "nDCG"), cfg.k, nf), cfg.reportFile)
      ExpReport.from(full, cfg.k)
    }
    (report, failed.toSeq, triples)
  }
}

object Replay {
  /** Candidates are the items of the fold's train edges. Each user must
    * get min(k, unrated candidates) rows, none of them a train item.
    * Returns the names of the checks that failed. */
  def checkRecs(recs: DataFrame, train: DataFrame, k: Int): Seq[String] = {
    val trainPairs = train.select(col("user_id").cast("string").as("user_id"),
      col("item_id").cast("string").as("item_id")).distinct().cache()
    val recPairs = recs.select(col("user_id").cast("string").as("user_id"),
      col("item_id").cast("string").as("item_id"))
    val leaked = recPairs.join(trainPairs, Seq("user_id", "item_id")).count()
    val nCand = trainPairs.select("item_id").distinct().count()
    val perUser = trainPairs.groupBy("user_id").agg(count(lit(1)).as("rated"))
      .join(recPairs.groupBy("user_id").agg(count(lit(1)).as("got")), Seq("user_id"), "left")
      .select(col("user_id"), least(lit(k.toLong), lit(nCand) - col("rated")).as("want"),
        coalesce(col("got"), lit(0L)).as("got"))
    val short = perUser.filter(col("got") =!= col("want")).count()
    trainPairs.unpersist()
    Seq("no_train_item_in_recs" -> (leaked == 0), "rows_per_user" -> (short == 0))
      .collect { case (name, false) => name }
  }

  /** The planted fault: one user's rank-1 item becomes one of that user's
    * train items. */
  def plantTrainItem(recs: DataFrame, train: DataFrame): DataFrame = {
    val r = recs.filter(col("rank") === 1).select("user_id").limit(1)
      .join(train.select("user_id", "item_id"), "user_id").limit(1).collect().head
    val u = r.get(0); val i = r.get(1)
    val swapped = recs.filter(!(col("user_id") === lit(u) && col("rank") === 1))
    swapped.unionByName(recs.filter(col("user_id") === lit(u) && col("rank") === 1)
      .withColumn("item_id", lit(i).cast(recs.schema("item_id").dataType)))
  }
}
