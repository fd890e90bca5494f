package perfbench

import graft.cli.{DataIntegration, Experiment}
import graft.etl.{Datasets, FixtureSparql, SparqlSource}
import graft.schema.TypedCsv
import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** What one call of a workload's entry point produced: report quality and
  * per-fold time where the workload has them, the names of failed output
  * checks, and replay-only counts. */
final case class Outcome(map: Double = Double.NaN, ndcg: Double = Double.NaN,
                         foldS: Double = Double.NaN, failed: Seq[String] = Nil,
                         counts: Map[String, Double] = Map.empty)

/** A workload whose inputs are generated: `entry` calls the program's
  * public entry point untraced, `replay` walks the same calls with spans. */
trait Prepared {
  def inputRatings: Long
  def entry(): Outcome
  def replay(tr: Tracer): Outcome
}

object Workloads {
  val names: Seq[String] = Seq("kg-models", "etl-kcore")
  /** Input size relative to the published datasets (ml-100k, ml-1m); chosen so
    * that a run's cold and warm calls fit the run-time budget on 4 cores. */
  val BaseScale = 0.3

  def prepare(name: String, spark: SparkSession, dir: File, seed: Long, scale: Double,
              fault: String, cores: Int): Prepared = name match {
    case "kg-models" =>
      val (_, nItems, rows) = Gen.ml100k(seed, BaseScale * scale)
      Gen.writeTypedRatings(new File(dir, "rating.csv"), rows)
      Gen.writeEnriched(new File(dir, "enriched.csv"), nItems, seed)
      new ExperimentWorkload(spark, dir, rows.size, fault, ExpCfg(
        ratings = s"$dir/rating.csv",
        enrich = Some((s"$dir/enriched.csv", Gen.EnrichedProps.map(_._1))), preprocess = Nil,
        test = SplitCfg("random_by_ratio", p = 0.2), validation = None,
        models = Seq(
          "transE" -> Seq("embedding_dim" -> "150", "epochs" -> "5", "triples" -> "ratings", "seed" -> "42"),
          // pinned corpus order and one SGNS thread make the fit bit-exact,
          // so the traced replay can be held to the entry point's MAP/nDCG
          "node2vec" -> Seq("n_walks" -> "10", "walk_len" -> "10", "embedding_size" -> "64",
            "p" -> "1.0", "q" -> "1.0", "seed" -> "42", "pin_order" -> "true", "w2v_threads" -> "1")),
        k = 5, relevanceThreshold = 3, reportFile = s"$dir/report.csv"))
    case "etl-kcore" =>
      new PipelineWorkload(spark, dir, seed, BaseScale * scale, fault, cores)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }
}

final class ExperimentWorkload(spark: SparkSession, dir: File, nRatings: Int, fault: String,
                               cfg: ExpCfg) extends Prepared {
  private val configPath = new File(dir, "experiment.yml").toString
  Files.writeString(new File(configPath).toPath, cfg.yaml)

  def inputRatings: Long = nRatings

  def entry(): Outcome = {
    val r = ExpReport.from(Experiment.run(spark, configPath), cfg.k)
    Outcome(r.map, r.ndcg, r.foldSeconds, ExpReport.check(r, cfg.models.size, cfg.k))
  }

  def replay(tr: Tracer): Outcome = {
    val (r, failed, triples) = new Replay(spark, cfg, configPath, fault).run(tr)
    Outcome(r.map, r.ndcg, r.foldSeconds, ExpReport.check(r, cfg.models.size, cfg.k) ++ failed,
      Map("triples" -> triples.toDouble))
  }
}

/** Time spent inside the benchmark's own SPARQL transports, per step. */
object FetchClock {
  val mapNanos = new AtomicLong
  val enrichNanos = new AtomicLong
}

/** Wraps the fixture transports with a fixed simulated endpoint delay, and
  * answers a planted set of titles with no candidate at all. */
final class DelayedTransport(json: Boolean, delayMs: Int, unmatched: Set[String])
    extends SparqlSource.Transport with Serializable {
  private val label = """FILTER regex\(\?label, "\^([^"]+)", "i"\)""".r
  def apply(endpoint: String, query: String, timeoutMs: Int): String = {
    val t0 = System.nanoTime()
    try {
      Thread.sleep(delayMs)
      if (!json) FixtureSparql.csvTransport(endpoint, query, timeoutMs)
      else {
        val title = label.findFirstMatchIn(query).map(_.group(1).replace(".*", " ")).getOrElse("")
        if (unmatched(title)) """{"results":{"bindings":[]}}"""
        else FixtureSparql.jsonTransport(endpoint, query, timeoutMs)
      }
    } finally (if (json) FetchClock.mapNanos else FetchClock.enrichNanos).addAndGet(System.nanoTime() - t0)
  }
}

/** The reference's two programs in sequence: ml-1m raw files through
  * convert, map_URIs and enrich, then an experiment over the integrated
  * files (unmatched items removed, binarize, chained k-core passes,
  * timestamp split with a random validation split, popularity). `fault =
  * "drop-uri"` withholds the candidate of one more (matchable) title. */
final class PipelineWorkload(spark: SparkSession, dir: File, seed: Long, scale: Double,
                             fault: String, cores: Int) extends Prepared {
  private val raw = Gen.writeMl1mRaw(new File(dir, "raw"), seed, scale, missShare = 0.13)
  private val in = new File(dir, "raw").toString
  private val out = new File(dir, "out").toString
  private val withheld = raw.unmatched ++
    (if (fault == "drop-uri") raw.titles.find(t => !raw.unmatched(t)).toSet else Set.empty)
  private val mapTransport = new DelayedTransport(json = true, delayMs = 2, unmatched = withheld)
  private val enrichTransport = new DelayedTransport(json = false, delayMs = 2, unmatched = Set.empty)
  private val endpoint = "http://fixture.invalid/sparql"
  private val kcore = (k: Int, t: String) =>
    ("filter_kcore", Seq("k" -> k.toString, "target" -> t, "iterations" -> "2"))
  private val experiment = new ExperimentWorkload(spark, dir, raw.nRatings, "none", ExpCfg(
    ratings = s"$out/rating.csv", item = Some(s"$out/item.csv"), mapPath = Some(s"$out/map.csv"),
    enrich = None,
    preprocess = Seq(("binarize", Seq("threshold" -> "4")),
      kcore(20, "user"), kcore(10, "item"), kcore(20, "user"), kcore(10, "item")),
    test = SplitCfg("timestamp_by_ratio", p = 0.2), validation = Some(SplitCfg("random_by_ratio", p = 0.1)),
    models = Seq("popularity" -> Nil), k = 10, relevanceThreshold = 1, reportFile = s"$dir/report.csv"))

  def inputRatings: Long = raw.nRatings

  def entry(): Outcome = {
    DataIntegration.run(spark, "ml-1m", in, out, convertItem = true, convertUser = true,
      convertRating = true, mapUris = true, enrichData = true, endpoint = endpoint,
      parallelism = cores, transport = mapTransport, enrichTransport = enrichTransport)
    val etlFailed = check()
    val o = experiment.entry()
    o.copy(failed = etlFailed ++ o.failed)
  }

  def replay(tr: Tracer): Outcome = {
    val ds = Datasets.registry("ml-1m")
    def convert(load: => Option[org.apache.spark.sql.DataFrame], file: String): Unit =
      tr.span("etl.convert") {
        val df = load.get
        TypedCsv.write(df, s"$out/$file")
      }
    convert(ds.items(spark, in), "item.csv")
    convert(ds.users(spark, in), "user.csv")
    convert(ds.ratings(spark, in), "rating.csv")
    tr.span("etl.map") {
      val w0 = FetchClock.mapNanos.get
      val items = TypedCsv.read(spark, s"$out/item.csv")
      val mapped = DataIntegration.mapItems(spark, ds, items, endpoint, cores, mapTransport)
      TypedCsv.write(mapped.select(col("item_id"), col("URI")), s"$out/map.csv")
      SparqlSource.matchRate(mapped.withColumnRenamed("URI", "uri")).show(false)
      tr.note("fetch_wait_s", (FetchClock.mapNanos.get - w0) / 1e9)
    }
    tr.span("etl.enrich") {
      val w0 = FetchClock.enrichNanos.get
      val dfMap = TypedCsv.read(spark, s"$out/map.csv")
      val enriched = DataIntegration.enrichItems(spark, ds, dfMap, endpoint, cores, enrichTransport)
      TypedCsv.write(enriched, s"$out/enriched.csv")
      tr.note("fetch_wait_s", (FetchClock.enrichNanos.get - w0) / 1e9)
    }
    val etlFailed = tr.span("check")(check())
    val matched = matchedIds().size.toDouble
    val o = experiment.replay(tr)
    o.copy(failed = etlFailed ++ o.failed, counts = o.counts ++ Map(
      "converted_rows" -> (raw.nItems + raw.nUsers + raw.nRatings).toDouble,
      "match_ratio" -> matched / raw.nItems))
  }

  /** Data rows of a written CSV directory (header lines excluded). */
  private def rows(table: String): Seq[String] = {
    val parts = Option(new File(out, table).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).sortBy(_.getName)
    parts.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).filter(_.nonEmpty).toVector finally src.close()
    }
  }
  private def matchedIds(): Seq[String] =
    rows("map.csv").map(_.split(",", -1)).collect { case Array(id, uri) if uri.nonEmpty => id }

  private def check(): Seq[String] = {
    val mapRows = rows("map.csv")
    val matched = matchedIds()
    val enrichedIds = rows("enriched.csv").map(_.takeWhile(_ != ','))
    Seq(
      "match_rate_planted" -> (mapRows.size == raw.nItems && matched.size == raw.nItems - raw.unmatched.size),
      "enriched_one_row_per_matched_item" ->
        (enrichedIds.size == matched.size && enrichedIds.toSet == matched.toSet),
      "rating_rows_equal_generated" -> (rows("rating.csv").size == raw.nRatings),
    ).collect { case (name, false) => name }
  }
}
