package graft.cli

import graft.etl.{Datasets, SparqlSource}
import graft.schema.TypedCsv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `data_integration.py` CLI (lines 11-47): per-dataset
  * convert -> map_URIs -> enrich_data over the standardized CSV layout
  * (item.csv / user.csv / rating.csv / social.csv / map.csv /
  * enriched.csv — dataset.py:25-31).
  *
  * The reference fans per-item SPARQL queries over a pool of `n_workers`
  * threads; here the query table is a DataFrame split into `-w`
  * partitions, and each task keeps [[SparqlSource.InFlight]] requests in
  * flight ([[SparqlSource.fetchBestUri]], [[SparqlSource.fetchCsvRow]]),
  * so the default `-w 1` still overlaps that many requests. The CSV
  * writer's `coalesce(1)` runs the partitions in one task, one after
  * another. Transport is injectable for fixture-replayed tests (no
  * network in CI).
  */
object DataIntegration {

  def main(args: Array[String]): Unit = {
    // both argparse spellings resolve (data_integration.py:16-25):
    // short (-d) and long (--dataset)
    val longForm = Map("-d" -> "--dataset", "-i" -> "--input_path",
      "-o" -> "--output_path", "-ci" -> "--convert_item", "-cu" -> "--convert_user",
      "-cr" -> "--convert_rating", "-cs" -> "--convert_social",
      "-map" -> "--map_URIs", "-enrich" -> "--enrich_data", "-w" -> "--n_workers")
    def flag(f: String) = args.contains(f) || longForm.get(f).exists(args.contains)
    def arg(f: String) = args.sliding(2).collectFirst {
      case Array(k, v) if k == f || longForm.get(f).contains(k) => v
    }
    val dataset = arg("-d").getOrElse(sys.error("usage: DataIntegration -d <dataset> -i <in> -o <out> [-ci -cu -cr -cs -map -enrich -w N]"))
    val in = arg("-i").getOrElse(sys.error("-i input path required"))
    val out = arg("-o").getOrElse(sys.error("-o output path required"))
    val spark = graft.LocalSession()
    run(spark, dataset, in, out,
      convertItem = flag("-ci"), convertUser = flag("-cu"),
      convertRating = flag("-cr"), convertSocial = flag("-cs"),
      mapUris = flag("-map"), enrichData = flag("-enrich"),
      // reference default n_workers=1 (data_integration.py:25)
      parallelism = arg("-w").map(_.toInt).getOrElse(1))
    spark.stop()
  }

  /** data_integration.py:34-45 step sequence. Returns the match-rate
    * report row when map_URIs ran (A5, dataset.py:236-241). */
  def run(spark: SparkSession, dataset: String, inputDir: String, outputDir: String,
          convertItem: Boolean = false, convertUser: Boolean = false,
          convertRating: Boolean = false, convertSocial: Boolean = false,
          mapUris: Boolean = false, enrichData: Boolean = false,
          endpoint: String = "http://dbpedia.org/sparql",
          parallelism: Int = 8,
          transport: SparqlSource.Transport = SparqlSource.httpTransport,
          enrichTransport: SparqlSource.Transport = SparqlSource.httpCsvTransport): Option[DataFrame] = {
    val ds = Datasets.registry.getOrElse(dataset,
      throw new IllegalArgumentException(
        s"Unknown dataset $dataset; supported: ${Datasets.registry.keys.toSeq.sorted.mkString(", ")}"))

    def convert(kind: String, loaded: Option[DataFrame], file: String): Unit = loaded match {
      case Some(df) => TypedCsv.write(df, s"$outputDir/$file")
      case None => println(s"Override the $kind loader of ${ds.name}.") // dataset.py convert_* fallback
    }
    if (convertItem) convert("item", ds.items(spark, inputDir), "item.csv")
    if (convertUser) convert("user", ds.users(spark, inputDir), "user.csv")
    if (convertRating) convert("rating", ds.ratings(spark, inputDir), "rating.csv")
    if (convertSocial) convert("social", ds.social(spark, inputDir), "social.csv")

    var report: Option[DataFrame] = None
    if (mapUris) {
      val items = TypedCsv.read(spark, s"$outputDir/item.csv")
      val mapped = mapItems(spark, ds, items, endpoint, parallelism, transport)
      TypedCsv.write(mapped.select(col("item_id"), col("URI")), s"$outputDir/map.csv")
      // the report reads the written file: the mapping (one SPARQL query
      // per item) runs once, and the report agrees with map.csv
      report = Some(SparqlSource.matchRate(
        TypedCsv.read(spark, s"$outputDir/map.csv").withColumnRenamed("URI", "uri")))
      report.foreach(_.show(false)) // dataset.py:238-241 mapping statistics
    }
    if (enrichData) {
      val dfMap = TypedCsv.read(spark, s"$outputDir/map.csv")
      val enriched = enrichItems(spark, ds, dfMap, endpoint, parallelism, enrichTransport)
      TypedCsv.write(enriched, s"$outputDir/enriched.csv")
    }
    report
  }

  /** map_URIs (dataset.py:225-241): per-item typed SPARQL query ->
    * candidate URIs -> fuzzy top-1 disambiguation against the expected
    * `dbr:` URI -> (item_id, URI), unmatched items kept as nulls. One
    * windowed pass ([[SparqlSource.fetchBestUri]]) resolves each row
    * where its response lands: thefuzz compares candidate URI strings
    * against the expected URI (movielens.py:126-131). */
  def mapItems(spark: SparkSession, ds: Datasets.DatasetDef, items: DataFrame,
               endpoint: String, parallelism: Int,
               transport: SparqlSource.Transport): DataFrame = {
    val queries = ds.mapQueries(items).getOrElse(
      throw new UnsupportedOperationException(s"${ds.name} has no entity-linking step"))
    SparqlSource.fetchBestUri(spark, queries, endpoint, ds.bindingVar,
      parallelism = parallelism, transport = transport)
  }

  /** enrich_data (dataset.py:243-262): one enrich query per MATCHED URI
    * (CSV return format) through the same windowed pass, first data row
    * parsed into per-property columns; list-valued properties arrive
    * "::"-concatenated and are split to string_list (S5 + A4). */
  def enrichItems(spark: SparkSession, ds: Datasets.DatasetDef, dfMap: DataFrame,
                  endpoint: String, parallelism: Int,
                  transport: SparqlSource.Transport): DataFrame = {
    val enrichQ = ds.enrichQuery(col("URI")).getOrElse(
      throw new UnsupportedOperationException(s"${ds.name} has no enrich step"))
    val props = ds.enrichProperties
    val queries = dfMap.filter(col("URI").isNotNull) // dataset.py:157 notna()
      .select(col("item_id"), enrichQ.as("query"))
    val parsed = SparqlSource.fetchCsvRow(spark, queries, endpoint, props,
      parallelism = parallelism, transport = transport)
    val cols = props.zipWithIndex.map { case (p, idx) =>
      val v = col("row")(idx)
      if (p == "abstract") v.as(p)
      else split(v, "::").as(p) // "::"-concat -> string_list
    }
    parsed.select(col("item_id") +: cols: _*)
  }
}
