package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Remote SPARQL source (SURVEY §2.1 S4/S5): the reference fans a
  * per-item query queue over a thread pool hitting
  * `http://dbpedia.org/sparql` with a 180 s timeout
  * (`data_integration/dataset.py:21-22,109-161`,
  * `datasets/worker.py:18-31`). The Spark shape replaces the thread
  * pool with executor-side parallelism: `repartition(n)` +
  * `mapPartitions`, one HTTP round-trip per row, preserving the
  * per-row (item_id, query) pairing of movielens.py:108-116.
  *
  * The transport is injectable so tests replay fixtures with zero
  * network (SURVEY §5.5 no-network rule); the default transport is a
  * plain HttpURLConnection GET.
  */
object SparqlSource {

  type Transport = (String, String, Int) => String // (endpoint, query, timeoutMs) => body

  /** Default HTTP GET transport (executor-side). */
  val httpTransport: Transport = httpTransportFor("json")

  /** CSV-result transport (the enrich path requests CSV —
    * dataset.py:138-139 `parallel_queries(q, CSV)`). */
  val httpCsvTransport: Transport = httpTransportFor("text/csv")

  def httpTransportFor(format: String): Transport = (endpoint, query, timeoutMs) => {
    val url = endpoint + "?format=" + java.net.URLEncoder.encode(format, "UTF-8") +
      "&query=" + java.net.URLEncoder.encode(query, "UTF-8")
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs) // dataset.py:21-22: 180 s
    try scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    finally conn.disconnect()
  }

  /** The fan-out both fetches share: one `transport` call per
    * (item_id, query) row over `parallelism` partitions, the body decoded
    * by a per-partition `decoder` into the `value` column; a failed call
    * or decode gives `failed` (worker.py swallows and continues —
    * worker.py:18-31). */
  private def fanOut(spark: SparkSession, queries: DataFrame, endpoint: String, timeoutMs: Int,
                     parallelism: Int, transport: Transport, value: StructField,
                     failed: Any)(decoder: () => String => Any): DataFrame = {
    val rows = queries.select(col("item_id").cast("string"), col("query"))
      .repartition(parallelism)
      .rdd.mapPartitions { it =>
        val decode = decoder()
        it.map { r =>
          val v = try decode(transport(endpoint, r.getString(1), timeoutMs))
            catch { case _: Exception => failed }
          Row(r.getString(0), v)
        }
      }
    spark.createDataFrame(rows, StructType(Seq(StructField("item_id", StringType), value)))
  }

  /** Issue one SELECT per (item_id, query) row; decode the SPARQL JSON
    * result's bindings into rows of (item_id, bindings: array<map>).
    * Failures yield an empty binding list. */
  def fetch(spark: SparkSession, queries: DataFrame, endpoint: String,
            timeoutMs: Int = 180000, parallelism: Int = 8,
            transport: Transport = httpTransport): DataFrame =
    fanOut(spark, queries, endpoint, timeoutMs, parallelism, transport,
      StructField("bindings", ArrayType(MapType(StringType, StringType))), Seq.empty) { () =>
      val mapper = new ObjectMapper()
      body => mapper.readTree(body).path("results").path("bindings").elements().asScala.map { b =>
        b.fields().asScala.map(e => e.getKey -> e.getValue.path("value").asText()).toMap
      }.toSeq
    }

  /** S5: parse a SPARQL CSV-format response body, taking the FIRST data
    * row (movielens.py:165-178 `pd.read_csv(...).iloc[0]`). Minimal CSV
    * split — the enrich responses carry no quoted commas because values
    * are GROUP_CONCAT'ed with "::" separators. */
  def firstCsvRow(body: String): Option[Map[String, String]] = {
    val lines = body.split("\r?\n").filter(_.nonEmpty)
    if (lines.length < 2) None
    else {
      val header = lines(0).split(",", -1).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      val values = lines(1).split(",", -1).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      Some(header.zip(values).toMap)
    }
  }

  /** Issue one CSV-format SELECT per (item_id, query) row and take the
    * FIRST data row's values for `properties`, in order (the enrich
    * fan-out, dataset.py:243-262 + movielens.py:165-178). Returns
    * (item_id, row: array<string>) with nulls for absent properties;
    * failed requests yield an all-null row. */
  def fetchCsvRow(spark: SparkSession, queries: DataFrame, endpoint: String,
                  properties: Seq[String], timeoutMs: Int = 180000, parallelism: Int = 8,
                  transport: Transport = httpCsvTransport): DataFrame = {
    val none = properties.map(_ => null: String)
    fanOut(spark, queries, endpoint, timeoutMs, parallelism, transport,
      StructField("row", ArrayType(StringType)), none) { () =>
      body => firstCsvRow(body).fold(none)(m => properties.map(p => m.get(p).filter(_.nonEmpty).orNull))
    }
  }

  /** J7 fuzzy top-1 disambiguation (movielens.py:118-131): for each
    * item, pick the candidate URI whose label best matches the expected
    * name, scored by [[graft.text.FuzzyMatch.wratio]] — an exact
    * reimplementation of thefuzz's WRatio (the scorer
    * `process.extractOne` defaults to), bound into codegen via the
    * [[graft.functions.WRatioScore]] expression. Score is the
    * reference's 0-100 integer scale; ties (extractOne keeps the first
    * of equal scores, an iteration-order artifact) break
    * deterministically by URI. candidates:
    * (item_id, expected, candidate_label, uri). */
  def disambiguate(candidates: DataFrame): DataFrame = {
    val scored = candidates
      .withColumn("score",
        graft.functions.WRatioScore(col("expected"), col("candidate_label")))
    scored
      .withColumn("__r", row_number().over(
        Window.partitionBy("item_id").orderBy(col("score").desc, col("uri"))))
      .filter(col("__r") === 1)
      .select("item_id", "uri", "score")
  }

  /** A4 local replay of the enrichment GROUP_CONCAT(DISTINCT x;
    * SEPARATOR="::") aggregation (movielens.py:57-77) over a triple
    * table: (uri, property, value) -> one row per uri with "::"-joined
    * distinct values per property. SPARQL leaves GROUP_CONCAT order
    * endpoint-defined; here values are sorted so the aggregation is
    * deterministic under any partitioning (and oracle-replayable). */
  def groupConcatProperties(triples: DataFrame, properties: Seq[String]): DataFrame = {
    val aggs = properties.map(p =>
      array_join(array_sort(array_distinct(collect_list(when(col("property") === p, col("value"))))), "::").as(p))
    triples.groupBy("uri").agg(aggs.head, aggs.tail: _*)
  }

  /** A5 match-rate report (dataset.py:236-241). */
  def matchRate(mapped: DataFrame): DataFrame =
    mapped.agg(
      count(lit(1)).as("n_items"),
      count(col("uri")).as("n_matched"),
      round(count(col("uri")) * 100.0 / count(lit(1)), 2).as("pct_matched"))
}
