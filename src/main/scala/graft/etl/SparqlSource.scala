package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Future, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Remote SPARQL source (SURVEY §2.1 S4/S5): the reference fans a
  * per-item query queue over a pool of `n_workers` threads hitting
  * `http://dbpedia.org/sparql` with a 180 s timeout
  * (`data_integration/dataset.py:21-22,109-161`,
  * `datasets/worker.py:18-31`). Here the query table is
  * `repartition(n)` over tasks, and each task runs one windowed pass
  * over its rows: up to [[InFlight]] requests in flight, each response
  * resolved to its output row on the thread it lands on, results yielded
  * in input row order so the per-row (item_id, query) pairing of
  * movielens.py:108-116 holds. In flight = tasks × [[InFlight]].
  *
  * The transport is injectable so tests replay fixtures with zero
  * network (SURVEY §5.5 no-network rule); the default transport is a
  * plain HttpURLConnection GET.
  */
object SparqlSource {

  type Transport = (String, String, Int) => String // (endpoint, query, timeoutMs) => body

  /** Requests one task keeps in flight. A window per task, not per
    * stage, keeps requests overlapping when a writer's `coalesce(1)`
    * folds the fan-out into a single task. 16 is the smallest window at
    * the plateau: perfbench etl-kcore, 4 cores, 2 ms fixture endpoint,
    * warm trace-1 `etl.map` + `etl.enrich` wall (mean of seeds 8302 and
    * 8303) 2.30 s at 4, 1.66 s at 8, 1.49 s at 16, 1.51 s at 32. */
  val InFlight = 16

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

  /** `step` over `rows` on at most `width` daemon threads, results in
    * input order. The consuming thread alone reads `rows`; it keeps
    * `width` steps submitted while it waits on the oldest. The pool ends
    * when the last result is taken, or with the task that reads it
    * (killed, failed or stopped early). A step's non-`Exception`
    * throwable rethrows here. */
  private[graft] def windowed[A, B](rows: Iterator[A], width: Int = InFlight)(step: A => B): Iterator[B] =
    if (!rows.hasNext) Iterator.empty
    else new Iterator[B] {
      private val pool = fetchPool(width)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
      private val pending = new java.util.ArrayDeque[Future[B]]()
      private def fill(): Unit = while (pending.size < width && rows.hasNext) {
        val a = rows.next()
        pending.add(pool.submit(new Callable[B] { def call(): B = step(a) }))
      }
      fill()

      def hasNext: Boolean = !pending.isEmpty

      def next(): B = {
        val head = pending.poll()
        if (head == null) throw new NoSuchElementException("windowed: no more rows")
        fill()
        val out = try head.get() catch {
          case e: ExecutionException => pool.shutdownNow(); throw e.getCause
        }
        if (pending.isEmpty) { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
        out
      }
    }

  private val fetchThreads = new AtomicInteger()

  /** Daemon threads that also end after a second idle, for a pass whose
    * reader stops early outside a Spark task. */
  private def fetchPool(width: Int): ExecutorService = {
    val pool = new ThreadPoolExecutor(width, width, 1, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"sparql-fetch-${fetchThreads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** The fan-out both steps share: one `transport` call per row of
    * `queries` (item_id, query, ...) over `parallelism` tasks, each task
    * one [[windowed]] pass. `resolve` turns the row and its response body
    * into the `value` column on the fetch thread; a failed call or
    * resolve gives `failed` (worker.py swallows and continues —
    * worker.py:18-31). */
  private def fanOut(spark: SparkSession, queries: DataFrame, endpoint: String, timeoutMs: Int,
                     parallelism: Int, transport: Transport, value: StructField,
                     failed: Any)(resolve: (Row, String) => Any): DataFrame = {
    val rows = queries.withColumn("item_id", col("item_id").cast("string"))
      .repartition(parallelism)
      .rdd.mapPartitions(windowed(_) { r =>
        val v = try resolve(r, transport(endpoint, r.getAs[String]("query"), timeoutMs))
          catch { case _: Exception => failed }
        Row(r.getAs[String]("item_id"), v)
      })
    spark.createDataFrame(rows, StructType(Seq(StructField("item_id", StringType), value)))
  }

  private lazy val json = new ObjectMapper()

  /** map_URIs' per-row resolve (dataset.py:225-241, movielens.py:118-131):
    * one SELECT per (item_id, query, expected) row; the JSON result's
    * `bindingVar` values are the candidates, and [[bestUri]] picks the
    * row's URI. Returns (item_id, URI), URI null when the response has
    * no candidate or the request failed. Each row resolves from its own
    * response, duplicate item_ids included. */
  def fetchBestUri(spark: SparkSession, queries: DataFrame, endpoint: String, bindingVar: String,
                   timeoutMs: Int = 180000, parallelism: Int = 8,
                   transport: Transport = httpTransport): DataFrame =
    fanOut(spark, queries, endpoint, timeoutMs, parallelism, transport,
      StructField("URI", StringType), null) { (r, body) =>
      bestUri(r.getAs[String]("expected"), candidates(body, bindingVar))
    }

  /** The `bindingVar` value of each binding of a SPARQL JSON result, in
    * response order; null for a binding without `bindingVar`. */
  private[graft] def candidates(body: String, bindingVar: String): Seq[String] =
    json.readTree(body).path("results").path("bindings").elements().asScala.map { b =>
      if (b.has(bindingVar)) b.get(bindingVar).path("value").asText() else null
    }.toSeq

  /** The per-row form of [[disambiguate]] with each candidate URI as its
    * own label: top-1 by WRatio score descending (a null `expected` or
    * URI scores null, placed last), then URI ascending in Spark's string
    * order (UTF-8 bytes, nulls first). Null when there is no candidate. */
  private def bestUri(expected: String, uris: Seq[String]): String =
    if (uris.isEmpty) null
    else uris.map { u =>
      val score = if (expected == null || u == null) None else Some(graft.text.FuzzyMatch.wratio(expected, u))
      (score, u)
    }.min(pickOrder)._2

  private val pickOrder: Ordering[(Option[Int], String)] = (a, b) => {
    val byScore = (a._1, b._1) match {
      case (Some(x), Some(y)) => Integer.compare(y, x)
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
    }
    if (byScore != 0) byScore
    else (a._2, b._2) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    }
  }

  /** S5: parse a SPARQL CSV-format response body, taking the FIRST data
    * row (movielens.py:165-178 `pd.read_csv(...).iloc[0]`) keyed by the
    * header. RFC 4180 quoting: DBpedia quotes every value, and a quoted
    * value may hold commas, doubled quotes and line breaks (abstracts
    * do). An empty value reads as "". */
  def firstCsvRow(body: String): Option[Map[String, String]] = {
    val settings = new CsvParserSettings() // ',' delimiter, '"' quote and escape
    settings.setLineSeparatorDetectionEnabled(true)
    settings.setNullValue("")
    settings.setEmptyValue("")
    settings.setMaxCharsPerColumn(-1)
    settings.setInputBufferSize(math.max(1024, math.min(body.length + 1, 1 << 16)))
    settings.setReadInputOnSeparateThread(false)
    val parser = new CsvParser(settings)
    parser.beginParsing(new java.io.StringReader(body))
    try {
      val header = parser.parseNext()
      val values = if (header == null) null else parser.parseNext()
      Option(values).map(v => header.toSeq.zip(v).toMap)
    } finally parser.stopParsing()
  }

  /** Issue one CSV-format SELECT per (item_id, query) row and take the
    * FIRST data row's values for `properties`, in order (the enrich
    * fan-out, dataset.py:243-262 + movielens.py:165-178). Returns
    * (item_id, row: array<string>) with nulls for absent or empty
    * properties; failed requests yield an all-null row. */
  def fetchCsvRow(spark: SparkSession, queries: DataFrame, endpoint: String,
                  properties: Seq[String], timeoutMs: Int = 180000, parallelism: Int = 8,
                  transport: Transport = httpCsvTransport): DataFrame = {
    val none = properties.map(_ => null: String)
    fanOut(spark, queries, endpoint, timeoutMs, parallelism, transport,
      StructField("row", ArrayType(StringType)), none) { (_, body) =>
      firstCsvRow(body).fold(none)(m => properties.map(p => m.get(p).filter(_.nonEmpty).orNull))
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
