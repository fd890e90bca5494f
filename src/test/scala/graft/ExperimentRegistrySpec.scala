package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One YAML experiment exercising EVERY registry entry end-to-end —
  * the runnable form of README's "Model registry & YAML surface"
  * section (r11 verdict item 10). The config below is the README
  * example verbatim (paths substituted); if a registry entry is added
  * without a YAML stanza here, the coverage assertion fails. */
class ExperimentRegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("every registry entry trains and reports through one YAML experiment") {
    val registry = graft.model.Recommenders.registry.keySet
    val tmp = java.nio.file.Files.createTempDirectory("registry_e2e")
    graft.util.Scratch.deleteOnExit(tmp)
    // tiny learnable dataset: 60 users x 30 items, 2 taste clusters
    val rows = for {
      u <- 0 until 60; i <- 0 until 30
      if (u % 2 == i % 2) && (u * 13 + i * 7) % 5 < 3
    } yield (u.toLong + 1, i.toLong + 1, ((u + i) % 5 + 1).toDouble,
      (820454400000L + (u * 31 + i) * 86400000L).toDouble)
    graft.schema.TypedCsv.write(
      rows.toDF("user_id", "item_id", "rating", "timestamp")
        .select(col("user_id").cast("string"), col("item_id").cast("string"),
          col("rating"), col("timestamp")),
      s"$tmp/rating.csv")
    graft.schema.TypedCsv.write(
      (1 to 30).map(i => (i.toString, s"genre_${i % 2}", s"dir_${i % 5}"))
        .toDF("item_id", "subject", "director"),
      s"$tmp/enriched.csv")
    val cfg =
      s"""experiment:
         |  dataset:
         |    ratings: $tmp/rating.csv
         |    enrich:
         |      enrich_path: $tmp/enriched.csv
         |      properties: [subject, director]
         |  split:
         |    seed: 42
         |    test: {method: random_by_ratio, p: 0.25, level: user}
         |  models:
         |    - name: popularity
         |      parameters: {}
         |    - name: bpr
         |      parameters: {embedding_dim: 8, epochs: 3, lr: 0.05, reg: 0.01,
         |                   min_rating: 1.0, seed: 42}
         |    - name: als
         |      parameters: {embedding_dim: 8, iters: 3, lambda: 0.1, seed: 42}
         |    - name: als_implicit
         |      parameters: {embedding_dim: 8, iters: 3, lambda: 0.1, alpha: 20.0, seed: 42}
         |    - name: item2vec
         |      parameters: {embedding_dim: 8, window: 100, epochs: 3, min_rating: 1.0, seed: 42}
         |    - name: deepwalk
         |      parameters: {embedding_size: 24, n_walks: 5, walk_len: 8, window_size: 3, seed: 42}
         |    - name: node2vec
         |      parameters: {embedding_size: 16, n_walks: 5, walk_len: 8, p: 1.0, q: 2.0, seed: 42}
         |    - name: item2vec
         |      parameters: {embedding_dim: 8, window: 100, epochs: 3, min_rating: 1.0, seed: 42}
         |    - name: deepwalk_based
         |      parameters: {embedding_size: 16, n_walks: 5, walk_len: 8, p: 1.0, q: 1.0, seed: 42}
         |    - name: transE
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42, triples: all}
         |    - name: transH
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: transR
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: transD
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: distMult
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: complEx
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: rotatE
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: rESCAL
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |    - name: tuckER
         |      parameters: {embedding_dim: 8, epochs: 1, seed: 42}
         |  evaluation: {k: 5, relevance_threshold: 3, metrics: [MAP, nDCG]}
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$tmp/exp.yml"), cfg)
    // YAML stanza coverage: every registry name (rescal via its rESCAL
    // alias) must appear, so adding a model forces a stanza here
    registry.foreach { name =>
      val inYaml = cfg.contains(s"- name: $name") ||
        (name == "rescal" && cfg.contains("- name: rESCAL"))
      assert(inYaml, s"registry entry '$name' missing from the README YAML example")
    }
    val report = graft.cli.Experiment.run(spark, s"$tmp/exp.yml")
      .select("model", "MAP@5_mean", "nDCG@5_mean").collect()
    assert(report.length == 17, s"expected 17 report rows, got ${report.length}")
    report.foreach { r =>
      val (m, map, ndcg) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      assert(!map.isNaN && map >= 0.0 && map <= 1.0, s"$m MAP=$map")
      assert(!ndcg.isNaN && ndcg >= 0.0 && ndcg <= 1.0, s"$m nDCG=$ndcg")
    }
    // the learnable cluster structure: at least half the models find
    // SOME signal (popularity always does on this skew)
    assert(report.count(_.getDouble(1) > 0.0) >= 8,
      s"too few models with nonzero MAP: ${report.map(r => r.getString(0) -> r.getDouble(1)).mkString(", ")}")
  }

  test("each fold phase's jobs carry a '<model> fold <i>: <phase>' description") {
    val tmp = java.nio.file.Files.createTempDirectory("job_labels")
    graft.util.Scratch.deleteOnExit(tmp)
    val rows = for (u <- 1 to 20; i <- 1 to 10 if (u + i) % 3 != 0)
      yield (u.toString, i.toString, ((u * i) % 5 + 1).toDouble)
    graft.schema.TypedCsv.write(rows.toDF("user_id", "item_id", "rating"), s"$tmp/rating.csv")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$tmp/exp.yml"),
      s"""experiment:
         |  dataset: {ratings: $tmp/rating.csv}
         |  split:
         |    seed: 42
         |    test: {method: random_by_ratio, p: 0.25, level: user}
         |  models:
         |    - {name: popularity, parameters: {}}
         |    - {name: transE, parameters: {embedding_dim: 4, epochs: 1, seed: 42}}
         |  evaluation: {k: 3, relevance_threshold: 3, metrics: [MAP]}
         |  report: {file: $tmp/report.csv}
         |""".stripMargin)
    val sc = spark.sparkContext
    /** The job labels of one run with load gate bound `maxDriverRows`. */
    def labelsOf(maxDriverRows: Long): Seq[String] = {
      var after: String = null
      val labels = JobWatch.descriptions(spark) {
        sc.setJobDescription("outer")
        graft.cli.Experiment.run(spark, s"$tmp/exp.yml", maxDriverRows)
        after = sc.getLocalProperty("spark.job.description")
      }
      assert(after == "outer", "the caller's job description was not restored")
      // every job carries the description of its experiment stage or
      // fold phase, none the caller's
      assert(labels.forall(l => l.matches("experiment: (load|preprocess|split)") ||
        l.matches("(popularity|transE) fold 1: (train|recommend|eval)")), s"unexpected job labels: ${labels.distinct}")
      labels
    }
    // the driver regime: the inputs are read on the driver, neither fold
    // starts a job (popularity ranks on the driver, transE trains on the
    // local rows, MAP/nDCG read both in place), and the report, a local
    // table, is written on the driver
    val driver = labelsOf(graft.cli.Experiment.MaxDriverRatings)
    assert(driver.isEmpty, s"a driver-regime experiment started a job: $driver")
    // the Spark spine, through the private bound: popularity ranks and
    // evaluates as Spark jobs; transE still trains and ranks on the
    // driver (one train job, one eval job for its relevant test rows);
    // the report is still a local table, written without a job
    val labels = labelsOf(0)
    for ((m, phase) <- Seq("popularity" -> "recommend", "popularity" -> "eval",
      "transE" -> "train", "transE" -> "eval"))
      assert(labels.contains(s"$m fold 1: $phase"), s"no job labelled '$m fold 1: $phase' in $labels")
    assert(!labels.contains("transE fold 1: recommend"), s"a driver-regime recommend started a job: $labels")
  }

  test("a failure inside a fold phase surfaces as '<model> fold <i>: <phase>' with its cause") {
    val tmp = java.nio.file.Files.createTempDirectory("fold_failure")
    graft.util.Scratch.deleteOnExit(tmp)
    graft.schema.TypedCsv.write(Seq(("1", "1", 5.0), ("1", "2", 4.0), ("2", "1", 3.0), ("2", "2", 5.0))
      .toDF("user_id", "item_id", "rating"), s"$tmp/rating.csv")
    // a non-numeric embedding_dim passes the config check and is first
    // read when transE builds its trainer
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$tmp/exp.yml"),
      s"""experiment:
         |  dataset: {ratings: $tmp/rating.csv}
         |  split: {seed: 42, test: {method: random_by_ratio, p: 0.5, level: user}}
         |  models:
         |    - {name: popularity, parameters: {}}
         |    - {name: transE, parameters: {embedding_dim: x, epochs: 1}}
         |  evaluation: {k: 3, metrics: [MAP]}
         |""".stripMargin)
    val err = intercept[RuntimeException](graft.cli.Experiment.run(spark, s"$tmp/exp.yml"))
    assert(err.getMessage == "transE fold 1: train", err)
    assert(err.getCause.isInstanceOf[NumberFormatException], err.getCause)
  }

  test("an unknown model or metric name fails with that name before any Spark job") {
    val tmp = java.nio.file.Files.createTempDirectory("bad_names")
    graft.util.Scratch.deleteOnExit(tmp)
    graft.schema.TypedCsv.write(Seq(("1", "1", 5.0), ("2", "1", 4.0)).toDF("user_id", "item_id", "rating"),
      s"$tmp/rating.csv")
    val okPrep = "[{method: binarize, parameters: {threshold: 4}}]"
    val okSplit = "{seed: 42, test: {method: random_by_ratio, p: 0.25, level: user}}"
    // (model, metric, preprocess, split, the name the error must carry):
    // a bad entry anywhere in the config fails before the data loads,
    // also a typo in the second preprocess entry
    val cases = Seq(
      ("transEE", "MAP", okPrep, okSplit, "transEE"),
      ("transE", "Recall", okPrep, okSplit, "Recall"),
      ("transE", "MAP", "[{method: binarize}, {method: filter_kcor, parameters: {k: 2}}]", okSplit, "filter_kcor"),
      ("transE", "MAP", "[{method: filter_kcore, parameters: {k: 2, target: usr}}]", okSplit, "usr"),
      ("transE", "MAP", okPrep, "{seed: 42, test: {method: random_by_ration, p: 0.25}}", "random_by_ration"),
      ("transE", "MAP", okPrep, "{seed: 42, test: {method: timestamp_by_ratio, p: 1.5}}", "1.5"),
      ("transE", "MAP", okPrep, "{seed: 42, test: {method: k_fold, k: 3, level: users}}", "users"),
      ("transE", "MAP", okPrep,
        "{seed: 42, test: {method: k_fold, k: 2}, validation: {method: timestamp_by_rato}}", "timestamp_by_rato"),
      ("transE", "MAP", okPrep,
        "{seed: 42, test: {method: fixed_timestamp, timestamp: 9}, validation: {p: 0.0}}", "0.0"),
      ("transE", "MAP", okPrep,
        "{seed: 42, test: {method: k_fold, k: 2}, validation: {method: k_fold, k: 2}}",
        "Validation split does not support k_fold method."))
    for ((model, metric, prep, split, name) <- cases) {
      java.nio.file.Files.writeString(java.nio.file.Path.of(s"$tmp/exp.yml"),
        s"""experiment:
           |  dataset: {ratings: $tmp/rating.csv}
           |  preprocess: $prep
           |  split: $split
           |  models:
           |    - {name: popularity, parameters: {}}
           |    - {name: $model, parameters: {embedding_dim: 4, epochs: 1}}
           |  evaluation: {k: 3, metrics: [MAP, $metric]}
           |""".stripMargin)
      var err: Throwable = null
      val jobs = JobWatch.jobs(spark) {
        err = intercept[IllegalArgumentException](graft.cli.Experiment.run(spark, s"$tmp/exp.yml"))
      }
      assert(err.getMessage.contains(name), err.getMessage)
      assert(jobs.isEmpty, s"$name: $jobs")
    }
  }
}
