package graft

import graft.cli.DataIntegration
import graft.etl.{FixtureSparql, SparqlSource}
import graft.schema.TypedCsv
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.Charset
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The windowed SPARQL pass behind map_URIs and enrich_data: requests
  * overlap within a task (also when the writer's `coalesce(1)` folds the
  * fan-out into one task), each row keeps its own response, and the
  * per-row URI pick is [[SparqlSource.disambiguate]]'s. */
class SparqlPassSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fetchThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_.startsWith("sparql-fetch")).toSet

  test("map and enrich keep requests in flight past the core count; each row keeps its own response") {
    val in = Files.createTempDirectory("spi")
    val out = Files.createTempDirectory("spo")
    val titles = (0 until 72).map(i => s"film ${"abcdefghij"(i % 10)}${i / 10} x$i")
    val genres = Seq.fill(19)("0").mkString("|")
    Files.write(in.resolve("u.item"), titles.zipWithIndex
      .map { case (t, i) => s"${i + 1}|$t (1995)|01-Jan-1995|||$genres\n" }.mkString
      .getBytes(Charset.forName("ISO-8859-1")))
    SlowTransport.reset()
    DataIntegration.run(spark, "ml-100k", in.toString, out.toString,
      convertItem = true, mapUris = true, enrichData = true, parallelism = 2,
      transport = SlowTransport.map, enrichTransport = SlowTransport.enrich)

    val cores = spark.sparkContext.defaultParallelism
    assert(SlowTransport.peak("map") > cores, "map: more requests in flight than cores")
    assert(SlowTransport.peak("enrich") > cores, "enrich: more requests in flight than cores")
    // one request per item and step, whatever order the responses landed in
    val byTitle = titles.map(t => t -> 1).toMap
    assert(SlowTransport.calls("map") == byTitle)
    assert(SlowTransport.calls("enrich") == byTitle)

    val mapped = TypedCsv.read(spark, s"$out/map.csv").as[(String, String)].collect().toMap
    assert(mapped == titles.zipWithIndex.map { case (t, i) =>
      (i + 1).toString -> (FixtureSparql.ResourcePrefix + t) }.toMap)
    val enriched = TypedCsv.read(spark, s"$out/enriched.csv")
      .select(col("item_id"), col("abstract"), col("writer")(0)).as[(String, String, String)].collect()
    assert(enriched.length == titles.size)
    enriched.foreach { case (id, abs, writer) =>
      val t = titles(id.toInt - 1)
      assert(abs == s"All about $t" && writer == s"W_$t", s"item $id")
    }
    assert(fetchThreads().isEmpty, "no fetch thread outlives the pass")
  }

  test("per-row URI pick equals disambiguate on the same candidates") {
    def bindings(uris: Option[String]*): String = uris.map {
      case Some(u) => s"""{"film":{"value":"$u"}}"""
      case None => """{"other":{"value":"http://x/unbound"}}"""
    }.mkString("""{"results":{"bindings":[""", ",", "]}}")
    // (item_id, query, expected, response body); query "fail" throws
    val rows = Seq(
      ("1", "tie", "http://x/ab", bindings(Some("http://x/ba"), Some("http://x/ab "), Some("http://x/ab"))),
      ("2", "utf8", "http://x/", bindings(Some("http://x/😀"), Some("http://x/～"))),
      ("3", "null-expected", null, bindings(Some("http://x/b"), Some("http://x/a"))),
      ("4", "unbound", "http://x/q", bindings(None, Some("http://x/z"))),
      ("5", "only-unbound", "http://x/q", bindings(None)),
      ("6", "fail", "http://x/q", ""),
      ("7", "empty", "http://x/q", bindings()),
      ("8", "dup-a", "http://x/heat", bindings(Some("http://x/heat"), Some("http://x/fargo"))),
      ("8", "dup-b", "http://x/fargo", bindings(Some("http://x/heat"), Some("http://x/fargo"))))
    val bodies = rows.map(r => r._2 -> r._4).toMap
    val transport: SparqlSource.Transport = (_, q, _) =>
      if (q == "fail") throw new java.io.IOException("endpoint down") else bodies(q)
    val queries = rows.map(r => (r._1, r._2, r._3)).toDF("item_id", "query", "expected")
    val got = SparqlSource.fetchBestUri(spark, queries, "http://fixture", "film", transport = transport)
      .collect().map(r => (r.getString(0), r.getString(1)))

    // reference: disambiguate over each row's own candidates, keyed by row
    val cands = rows.filter(_._2 != "fail").flatMap { case (_, q, e, body) =>
      SparqlSource.candidates(body, "film").map(u => (q, e, u, u)) }
      .toDF("item_id", "expected", "candidate_label", "uri")
    val ref = SparqlSource.disambiguate(cands).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = rows.map(r => (r._1, ref.getOrElse(r._2, null)))
    assert(got.sorted.toSeq == want.sorted)

    val byQuery = rows.map(_._2).zip(want.map(_._2)).toMap
    assert(byQuery("tie") == "http://x/ab")
    assert(byQuery("utf8") == "http://x/～", "UTF-8 byte order, not UTF-16")
    assert(byQuery("null-expected") == "http://x/a")
    assert(byQuery("unbound") == "http://x/z")
    assert(byQuery("only-unbound") == null && byQuery("fail") == null && byQuery("empty") == null)
    // duplicate item_ids: each row resolves from its own response
    assert(got.filter(_._1 == "8").map(_._2).sorted.toSeq == Seq("http://x/fargo", "http://x/heat"))
  }

  test("windowed rethrows a step's Error and keeps input order") {
    val order = SparqlSource.windowed((1 to 50).iterator, width = 8) { i =>
      Thread.sleep((i * 7919) % 13); i * 2 }.toSeq
    assert(order == (1 to 50).map(_ * 2))
    val e = intercept[AssertionError] {
      SparqlSource.windowed(Iterator(1, 2, 3), width = 2) { i =>
        if (i == 2) throw new AssertionError("boom") else i }.toList
    }
    assert(e.getMessage == "boom")
  }
}

/** A fixture endpoint with a ~20 ms response time that varies by query,
  * so completion order differs from submission order. Counts calls per
  * title and the peak of concurrent calls per step, across executor
  * threads. */
object SlowTransport {
  private val live = new ConcurrentHashMap[String, AtomicInteger]()
  private val peaks = new ConcurrentHashMap[String, AtomicInteger]()
  private val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()

  def reset(): Unit = { live.clear(); peaks.clear(); counts.clear() }
  def peak(step: String): Int = Option(peaks.get(step)).fold(0)(_.get)
  def calls(step: String): Map[String, Int] =
    counts.asScala.collect { case ((`step`, t), n) => t -> n.get }.toMap

  private def timed(step: String, title: String)(body: => String): String = {
    counts.computeIfAbsent((step, title), _ => new AtomicInteger()).incrementAndGet()
    val now = live.computeIfAbsent(step, _ => new AtomicInteger()).incrementAndGet()
    peaks.computeIfAbsent(step, _ => new AtomicInteger()).accumulateAndGet(now, math.max)
    try { Thread.sleep(10 + math.abs(title.hashCode) % 21); body }
    finally live.get(step).decrementAndGet()
  }

  val map: SparqlSource.Transport = (e, q, t) =>
    timed("map", FixtureSparql.titleFromMapQuery(q))(FixtureSparql.jsonTransport(e, q, t))
  val enrich: SparqlSource.Transport = (e, q, t) =>
    timed("enrich", FixtureSparql.uriFromEnrichQuery(q).stripPrefix(FixtureSparql.ResourcePrefix))(
      FixtureSparql.csvTransport(e, q, t))
}
