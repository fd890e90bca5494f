package graft

import graft.cli.Experiment
import graft.report.Reporter
import graft.schema.TypedCsv
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver load and report write: under the byte gate
  * `Experiment.run` reads its CSVs, assembles the graph, trains,
  * evaluates and writes its report without a Spark job. The driver CSV
  * reader must give `TypedCsv.read`'s schema, rows and errors, the driver
  * report writer must leave what Spark's writer leaves, and an input over
  * the gate must take the Spark path. */
class DriverLoadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    graft.util.Scratch.deleteOnExit(d)
    d
  }

  private def write(p: Path, text: String): String = { Files.writeString(p, text); p.toString }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** `readLocal` starts no job and returns a local table with `read`'s
    * schema and rows. */
  private def assertParity(path: String): Unit = {
    var local: DataFrame = null
    assert(JobWatch.jobs(spark) { local = TypedCsv.readLocal(spark, path) }.isEmpty, path)
    val viaSpark = TypedCsv.read(spark, path)
    assert(Shim.isLocal(local), path)
    assert(local.schema == viaSpark.schema, path)
    assert(sorted(Shim.localRows(local).get) == sorted(viaSpark.collect().toSeq), path)
  }

  test("readLocal == TypedCsv.read: quoted commas and line breaks, escaped quotes, empty vs null, string_list cells") {
    val dir = tempDir("csv_quoting")
    val path = write(dir.resolve("t.csv"),
      "a::string,b::string,n::number,l::string_list\n" +
        "\"x, y\",plain,1.5,p::q\n" +
        "\"line1\nline2\",z,2,\n" +
        "\"say \"\"hi\"\"\",,3,::\n" +
        "\"\",\"back\\\"slash\",NaN,\"\"\n" +
        ",\"\",-0,solo\n" +
        "\n" +
        "  ,tail,1e3,a::::b\n")
    assertParity(path)
    // a quoted comma stays in its value, an empty cell reads as null, and
    // lists split
    val rows = Shim.localRows(TypedCsv.readLocal(spark, path)).get
    assert(rows.head.getString(0) == "x, y" && rows.exists(_.isNullAt(1)), rows)
    assert(rows.head.getSeq[String](3) == Seq("p", "q"), rows)
  }

  test("readLocal == TypedCsv.read over a multi-part directory, skipping _ and . files") {
    val dir = tempDir("csv_parts").resolve("t.csv")
    val rnd = new scala.util.Random(3)
    val rows = (1 to 200).map(i => (s"u${i % 17}", s"i${rnd.nextInt(50)}", (1 + rnd.nextInt(5)).toDouble))
    import spark.implicits._
    rows.toDF("user_id::string", "item_id::string", "rating::number").repartition(4)
      .write.option("header", "true").csv(dir.toString)
    write(dir.resolve("_hidden.csv"), "user_id::string\nnot,a,row\n")
    write(dir.resolve(".dot.csv"), "x\ny\n")
    assert(Files.list(dir).filter(_.getFileName.toString.startsWith("part-")).count() > 1)
    assertParity(dir.toString)
    assert(Shim.localRows(TypedCsv.readLocal(spark, dir.toString)).get.size == 200)
  }

  /** The exception a block throws, unwrapped to the first Spark error
    * class in its cause chain. */
  private def thrown(body: => Any): Throwable = {
    val e = intercept[Throwable](body)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .find(_.isInstanceOf[org.apache.spark.SparkThrowable]).getOrElse(e)
  }

  test("readLocal throws what TypedCsv.read throws: a non-numeric number cell, a bad typed header") {
    val dir = tempDir("csv_errors")
    val bad = write(dir.resolve("bad.csv"), "user_id::string,rating::number\nu1,4\nu2,four\n")
    val viaSpark = thrown(TypedCsv.read(spark, bad).collect())
    // the driver read is lazy: the cast throws when the column is read
    val local = thrown(Shim.localRows(TypedCsv.readLocal(spark, bad)))
    assert(local.getClass == viaSpark.getClass, s"$local vs $viaSpark")
    for (header <- Seq("user_id::string,rating", "user_id::string,rating::float")) {
      val p = write(dir.resolve("header.csv"), s"$header\nu1,4\n")
      val a = intercept[IllegalArgumentException](TypedCsv.read(spark, p))
      val b = intercept[IllegalArgumentException](TypedCsv.readLocal(spark, p))
      assert(a.getMessage == b.getMessage)
    }
  }

  test("a report written on the driver reads back as the DataFrameWriter's, in Spark's layout") {
    val dir = tempDir("report_write")
    val schema = StructType(Seq(StructField("model", StringType), StructField("MAP@5", DoubleType),
      StructField("nDCG@5", DoubleType)))
    val report = spark.createDataFrame(java.util.Arrays.asList(
      Row("transE;dim=8, \"quoted\"", 0.003651, 0.005686), Row("two\nlines", Double.NaN, null),
      Row(null, -0.0, 1e-7)), schema).select(col("model"), col("MAP@5"), col("nDCG@5"))
    val (driver, viaSpark) = (dir.resolve("driver.csv").toString, dir.resolve("spark.csv").toString)
    Files.createDirectories(dir.resolve("driver.csv").resolve("stale"))
    assert(JobWatch.jobs(spark)(Reporter.writeCsv(report, driver)).isEmpty)
    assert(JobWatch.jobs(spark)(report.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(viaSpark)).nonEmpty)
    def layout(p: String): Seq[String] = Files.list(Path.of(p)).toArray.toSeq.map(_.asInstanceOf[Path])
      .map(_.getFileName.toString.replaceAll("part-00000-[0-9a-f-]{36}-c000", "part-00000-<uuid>-c000")).sorted
    assert(layout(driver) == layout(viaSpark), layout(driver))
    assert(layout(driver).contains("part-00000-<uuid>-c000.csv") && layout(driver).contains("_SUCCESS"))
    def text(p: String): String = {
      val parts = Files.list(Path.of(p)).toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("part-"))
      assert(parts.size == 1)
      Files.readString(parts.head)
    }
    assert(text(driver) == text(viaSpark))
    def readBack(p: String) = spark.read.option("header", "true").csv(p)
    assert(readBack(driver).columns.toSeq == readBack(viaSpark).columns.toSeq)
    assert(sorted(readBack(driver).collect().toSeq) == sorted(readBack(viaSpark).collect().toSeq))
    // a report that is not a local table is written by Spark
    assert(JobWatch.jobs(spark)(Reporter.writeCsv(report.repartition(2), driver)).nonEmpty)
    assert(sorted(readBack(driver).collect().toSeq) == sorted(readBack(viaSpark).collect().toSeq))
  }

  /** The kg-models shape: ratings and an enriched table with string and
    * string_list properties; transE and node2vec, hold-out split. */
  private def kgModelsConfig(dir: Path): String = {
    val csv = new StringBuilder("user_id::string,item_id::string,rating::number,timestamp::number\n")
    for (u <- 1 to 40; i <- 1 to 30 if (u * 7 + i * 3) % 4 != 0)
      csv.append(s"u$u,$i,${(u + i) % 5 + 1},${u * 1000 + i}\n")
    write(dir.resolve("rating.csv"), csv.toString)
    val enriched = new StringBuilder("item_id::string,subject::string_list,director::string,abstract::string\n")
    for (i <- 1 to 30)
      enriched.append(s"$i,${if (i % 7 == 0) "" else s"s${i % 3}::s${i % 5}"},${if (i % 4 == 0) "" else s"d${i % 6}"},a$i\n")
    write(dir.resolve("enriched.csv"), enriched.toString)
    write(dir.resolve("exp.yml"),
      s"""experiment:
         |  dataset:
         |    ratings: ${dir.resolve("rating.csv")}
         |    enrich: {enrich_path: ${dir.resolve("enriched.csv")}, properties: [subject, director]}
         |  split:
         |    seed: 42
         |    test: {method: random_by_ratio, p: 0.2, level: user}
         |  models:
         |    - {name: transE, parameters: {embedding_dim: 8, epochs: 2, triples: ratings, seed: 42}}
         |    - {name: node2vec, parameters: {n_walks: 4, walk_len: 6, embedding_size: 8, p: 1.0, q: 1.0,
         |                                    seed: 42, pin_order: true, w2v_threads: 1}}
         |  evaluation: {k: 5, relevance_threshold: 3, metrics: [MAP, nDCG]}
         |  report: {file: ${dir.resolve("report.csv")}, execution_times: {file: ${dir.resolve("times.csv")}}}
         |""".stripMargin)
  }

  /** The etl-kcore shape: ratings, an item table and `map.csv` with
    * unmatched items removed; binarize, 4 k-core passes, a timestamp split
    * with a random validation split, popularity. */
  private def etlKcoreConfig(dir: Path, year: Int => String = _ => "", yearFeature: Boolean = false): String = {
    val rnd = new scala.util.Random(21)
    val csv = new StringBuilder("user_id::string,item_id::string,rating::number,timestamp::number\n")
    for (u <- 1 to 60; i <- 1 to 40 if rnd.nextDouble() < 0.5 - (i % 5) * 0.08)
      csv.append(s"$u,$i,${1 + rnd.nextInt(5)},${9.7e8 + rnd.nextInt(100000)}\n")
    write(dir.resolve("rating.csv"), csv.toString)
    write(dir.resolve("item.csv"), "item_id::string,title::string,genres::string_list,year::number\n" +
      (1 to 40).map(i => s"$i,\"Title $i, The\",g${i % 3}::g${i % 4},${year(i)}\n").mkString)
    write(dir.resolve("map.csv"), "item_id::string,URI::string\n" +
      (1 to 40).map(i => s"$i,${if (i % 7 == 0) "" else s"http://dbpedia.org/resource/T$i"}\n").mkString)
    write(dir.resolve("exp.yml"),
      s"""experiment:
         |  dataset:
         |    ratings: ${dir.resolve("rating.csv")}
         |    item: {path: ${dir.resolve("item.csv")}, extra_features: [${if (yearFeature) "year" else ""}]}
         |    enrich: {map_path: ${dir.resolve("map.csv")}, remove_unmatched: true}
         |  preprocess:
         |    - {method: binarize, parameters: {threshold: 4}}
         |    - {method: filter_kcore, parameters: {k: 5, target: user, iterations: 2}}
         |    - {method: filter_kcore, parameters: {k: 3, target: item, iterations: 2}}
         |    - {method: filter_kcore, parameters: {k: 5, target: user, iterations: 2}}
         |    - {method: filter_kcore, parameters: {k: 3, target: item, iterations: 2}}
         |  split:
         |    seed: 42
         |    test: {method: timestamp_by_ratio, p: 0.2, level: user}
         |    validation: {method: random_by_ratio, p: 0.1, level: user}
         |  models: [{name: popularity, parameters: {}}]
         |  evaluation: {k: 10, relevance_threshold: 1, metrics: [MAP, nDCG]}
         |  report: {file: ${dir.resolve("report.csv")}}
         |""".stripMargin)
  }

  /** Runs `cfg` on the driver and on its Spark spine (`maxDriverRows` 0):
    * the driver run starts no job, and both report the same values and
    * write the same report file. */
  private def assertNoJobs(dir: Path, cfg: String): Unit = {
    def values(report: DataFrame): Seq[Row] = {
      val kept = report.columns.toSeq.filterNot(c => c.contains("execution_time") || c.endsWith("_s"))
      report.select(kept.map(col): _*).orderBy("model").collect().toSeq
    }
    def written(): Seq[Row] = spark.read.option("header", "true").csv(dir.resolve("report.csv").toString)
      .orderBy("model").collect().toSeq
    var report: DataFrame = null
    val jobs = JobWatch.descriptions(spark) { report = Experiment.run(spark, cfg) }
    assert(jobs.isEmpty, jobs)
    val (driverValues, driverFile) = (values(report), written())
    assert(driverValues.exists(r => r.getDouble(1) > 0.0), driverValues)
    val viaSpark = Experiment.run(spark, cfg, maxDriverRows = 0)
    assert(driverValues == values(viaSpark))
    assert(driverFile == written())
  }

  test("a kg-models-shaped experiment (transE + node2vec, enriched table) starts no Spark job") {
    val dir = tempDir("kg_models_jobs")
    assertNoJobs(dir, kgModelsConfig(dir))
    assert(Files.exists(dir.resolve("times.csv").resolve("_SUCCESS")))
  }

  test("an etl-kcore-shaped experiment (item + map.csv, remove_unmatched, k-core, both splits) starts no Spark job") {
    val dir = tempDir("etl_kcore_jobs")
    assertNoJobs(dir, etlKcoreConfig(dir))
  }

  test("a non-numeric cell in a number column no step reads fails neither path; in a feature column, both alike") {
    // item 8 survives remove_unmatched (7 and 14 are unmatched)
    val year: Int => String = i => if (i == 8) "n/a" else s"${1990 + i}"
    val dir = tempDir("unused_column")
    assertNoJobs(dir, etlKcoreConfig(dir, year))
    // the year column as an item feature: its property edges throw the
    // cast's error when read, on either path
    val used = tempDir("used_column")
    val ds = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](
      Files.readString(Path.of(etlKcoreConfig(used, year, yearFeature = true))))
      .get("experiment").asInstanceOf[java.util.Map[String, Object]]
      .get("dataset").asInstanceOf[java.util.Map[String, Object]]
    def edges(maxDriverRows: Long) = Experiment.loadDataset(spark, ds, maxDriverRows).propertyEdges.get
    val local = edges(Experiment.MaxDriverRatings)
    assert(Shim.isLocal(local))
    val (driver, viaSpark) = (thrown(local.collect()), thrown(edges(0).collect()))
    assert(driver.getClass == viaSpark.getClass && driver.isInstanceOf[org.apache.spark.SparkThrowable],
      s"$driver vs $viaSpark")
  }

  test("an input over the byte gate takes the Spark path") {
    val dir = tempDir("byte_gate")
    etlKcoreConfig(dir)
    val ds = new java.util.HashMap[String, Object]()
    ds.put("ratings", dir.resolve("rating.csv").toString)
    ds.put("item", dir.resolve("item.csv").toString)
    val enrich = new java.util.HashMap[String, Object]()
    enrich.put("map_path", dir.resolve("map.csv").toString)
    enrich.put("remove_unmatched", "true")
    ds.put("enrich", enrich)
    val paths = Seq("rating.csv", "item.csv", "map.csv").map(f => dir.resolve(f).toString)
    val bytes = paths.map(p => Files.size(Path.of(p))).sum
    // the gate is the summed bytes of every input against 27 bytes a rating
    val atGate = (bytes + 26) / 27
    assert(Experiment.readsOnDriver(spark, paths, atGate) && !Experiment.readsOnDriver(spark, paths, atGate - 1))
    // a glob or a missing file is never read on the driver
    assert(!Experiment.readsOnDriver(spark, Seq(dir.resolve("*.csv").toString), Long.MaxValue / 64))
    assert(!Experiment.readsOnDriver(spark, paths :+ dir.resolve("none.csv").toString, Long.MaxValue / 64))
    var under: Experiment.DatasetBundle = null
    assert(JobWatch.jobs(spark) { under = Experiment.loadDataset(spark, ds, atGate) }.isEmpty)
    assert(under.items.forall(Shim.isLocal) && under.propertyEdges.forall(Shim.isLocal))
    // one rating's worth of bytes over: Spark reads the CSVs
    var over: Experiment.DatasetBundle = null
    assert(JobWatch.jobs(spark) { over = Experiment.loadDataset(spark, ds, atGate - 1) }.nonEmpty)
    assert(!over.items.exists(Shim.isLocal) && !over.propertyEdges.exists(Shim.isLocal))
    assert(sorted(under.ratings.collect().toSeq) == sorted(over.ratings.collect().toSeq))
    assert(sorted(under.propertyEdges.get.collect().toSeq) == sorted(over.propertyEdges.get.collect().toSeq))
    assert(sorted(under.items.get.collect().toSeq) == sorted(over.items.get.collect().toSeq))
  }

  test("a driver read over the row gate keeps its ratings one local table") {
    val dir = tempDir("row_gate")
    // 400 short rating rows: the byte gate of 200 ratings (5,400 bytes)
    // passes, while the rows exceed the row gate
    val csv = new StringBuilder("user_id::string,item_id::string,rating::number\n")
    for (u <- 1 to 20; i <- 1 to 20) csv.append(s"$u,$i,${(u + i) % 5 + 1}\n")
    val path = write(dir.resolve("rating.csv"), csv.toString)
    val ds = new java.util.HashMap[String, Object]()
    ds.put("ratings", path)
    assert(Experiment.readsOnDriver(spark, Seq(path), 200))
    var bundle: Experiment.DatasetBundle = null
    assert(JobWatch.jobs(spark) { bundle = Experiment.loadDataset(spark, ds, 200) }.isEmpty)
    // folded once: the ratings are one LocalRelation
    assert(bundle.ratings.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val local = Shim.localRows(bundle.ratings).get
    assert(local.size == 400)
    val viaSpark = Experiment.loadDataset(spark, ds, 0).ratings
    assert(!Shim.isLocal(viaSpark))
    assert(bundle.ratings.schema == viaSpark.schema)
    assert(sorted(local) == sorted(viaSpark.collect().toSeq))
  }
}
