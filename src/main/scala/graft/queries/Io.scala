package graft.queries

import Shared._
import org.apache.spark.sql.functions._

/** Sinks, sources and the data-integration path (CSV, JSON-lines, ORC, partitioned parquet, SPARQL). */
object Io {

  val all: Seq[Query] = Seq(

    // S1/S6/F7: typed-header CSV sink + source roundtrip — the oracle
    // reads the file this query WRITES, so write and read are both under
    // the hash check (previously ScalaTest-only)
    Query("q43_typed_csv_roundtrip", run = (s, dir) => {
      val out = s"$runScratch/q43_roundtrip"
      graft.schema.TypedCsv.write(
        T(s, dir, "nation").select(
          col("n_nationkey").cast("double").as("nation_key"),
          col("n_name").as("name"),
          array(col("n_name"), col("n_regionkey").cast("string")).as("words")), out)
      graft.schema.TypedCsv.read(s, out)
        .select(col("nation_key"), col("name"),
          expr("array_join(words, '|')").as("words_j"))
    },
      oracle = s"""SELECT CAST("nation_key::number" AS DOUBLE) AS nation_key,
        |       "name::string" AS name,
        |       replace("words::string_list", '::', '|') AS words_j
        |FROM read_csv('$runScratch/q43_roundtrip/*.csv', header=true, all_varchar=true)""".stripMargin),

    // S2: multi-char "::" headerless dialect (the ml-1m separator),
    // written then scanned through the converter reader
    Query("q44_delimited_scan", run = (s, dir) => {
      val out = s"$runScratch/q44_mcsep"
      T(s, dir, "region")
        .select(concat_ws("::", col("r_regionkey"), col("r_name")).as("line"))
        .coalesce(1).write.mode("overwrite").text(out)
      graft.etl.Converters.readDelimited(s, out, "::", "UTF-8",
        Seq("region_key", "region_name"))
    },
      oracle = ("SELECT split_part(line, '::', 1) AS region_key, split_part(line, '::', 2) AS region_name\n" +
       s"FROM read_csv('$runScratch/q44_mcsep/*.txt', header=false, delim='\t', columns={'line':'VARCHAR'})")),

    // J7 end-to-end: the reference's process.extractOne replay — explode
    // a candidate catalog per item, score with exact-thefuzz WRatio,
    // keep the top-1 with URI tie-break (movielens.py:118-131). Expected
    // names carry a movielens-style year suffix so the token-sort /
    // partial-ratio paths genuinely fire. Bounded: ≤ 201 items × 201
    // candidates at every sf. Golden-parquet oracle (WRatio is not
    // SQL-expressible; the scorer itself is pinned against thefuzz's
    // published values in TextAndEtlSpec).
    Query("q49_fuzzy_extract_one", run = (s, dir) => {
      val p = T(s, dir, "part")
      val items = p.filter(col("p_partkey") % 7 === 0 && col("p_partkey") <= 1400)
        .select(col("p_partkey").as("item_id"),
          concat(col("p_name"), lit(" (1994)")).as("expected"))
      val catalog = p.filter(col("p_partkey") % 3 === 0 && col("p_partkey") <= 600)
        .select(concat(lit("http://ex.org/part/"), col("p_partkey")).as("uri"),
          col("p_name").as("candidate_label"))
      graft.etl.SparqlSource.disambiguate(items.crossJoin(broadcast(catalog)))
    },
      // golden-file oracle, same scheme as q42/q45 (regenerate with
      // `runMain graft.GoldenGen q49_fuzzy_extract_one <sfdirs...>`) —
      // WRatio is not SQL-expressible; the scorer is pinned against
      // thefuzz's published values in TextAndEtlSpec
      oracle = (R +
      """SELECT item_id, uri, score
        |FROM '/root/repo/goldens/q49_fuzzy_extract_one.parquet'
        |WHERE n_ratings = (SELECT COUNT(*) FROM ratings)""".stripMargin)),

    // S4/S5/S6/J7/F6 integration path under the hash check: item.csv ->
    // map_URIs (fixture SPARQL JSON, two candidates, WRatio top-1) ->
    // enrich_data (fixture CSV first-row, "::"-split lists) -> typed-CSV
    // sinks read back (data_integration.py:34-45, dataset.py:225-262).
    // Fixture responses are pure functions of the query text, so the
    // oracle reconstructs every output column from `part` directly.
    Query("q50_data_integration", run = (s, dir) => {
      val out = s"$runScratch/q50_integration"
      val items = T(s, dir, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey").cast("string").as("item_id"),
          col("p_name").as("movie_title"),
          (lit(1990) + col("p_partkey") % 10).cast("string").as("movie_year"))
      graft.schema.TypedCsv.write(items, s"$out/item.csv")
      graft.cli.DataIntegration.run(s, "ml-100k", inputDir = out, outputDir = out,
        mapUris = true, enrichData = true,
        transport = graft.etl.FixtureSparql.jsonTransport,
        enrichTransport = graft.etl.FixtureSparql.csvTransport)
      val mapped = graft.schema.TypedCsv.read(s, s"$out/map.csv")
      val enriched = graft.schema.TypedCsv.read(s, s"$out/enriched.csv")
      mapped.join(enriched, Seq("item_id"))
        .select(col("item_id"), col("URI").as("uri"), col("abstract"),
          array_join(col("producer"), "|").as("producer_j"),
          array_join(col("distributor"), "|").as("distributor_j"),
          array_join(col("writer"), "|").as("writer_j"),
          array_join(col("cinematography"), "|").as("cinematography_j"),
          array_join(col("subject"), "|").as("subject_j"),
          array_join(col("starring"), "|").as("starring_j"),
          array_join(col("director"), "|").as("director_j"))
    },
      // pure-SQL reconstruction of the fixture-replayed integration run:
      // the map winner is the exact expected URI by construction, and
      // every enriched property is the same pure function of p_name the
      // fixture transport computes
      oracle = """SELECT CAST(p_partkey AS VARCHAR) AS item_id,
        |  'http://dbpedia.org/resource/' || p_name AS uri,
        |  'All about ' || p_name AS abstract,
        |  replace(p_name, ' ', '|') AS producer_j,
        |  'D1|D2' AS distributor_j,
        |  'W_' || p_name AS writer_j,
        |  'C' AS cinematography_j,
        |  'Category:' || string_split(p_name, ' ')[1] AS subject_j,
        |  'S1|' || p_name AS starring_j,
        |  string_split(p_name, ' ')[-1] AS director_j
        |FROM part WHERE p_partkey <= 400""".stripMargin),

    // O5/F6 under the hash check: the full SPARQL map-query BUILDER
    // (prefix block + typed UNION branches + regex/category template
    // substitution) materialized as text per item row — the oracle
    // reconstructs the exact string independently
    Query("q59_sparql_query_text", run = (s, dir) =>
      graft.etl.Datasets.MovieLens100k.mapQueries(
        T(s, dir, "part").filter(col("p_partkey") < 100)
          .select(col("p_partkey").as("item_id"),
            col("p_name").as("movie_title"),
            (lit(1970) + col("p_size") % 50).cast("string").as("movie_year"))).get,
      // the oracle reconstructs the builder's exact output text from a
      // sentinel template: NAMEREGEXSENTINEL <- regex form of the title
      // (spaces -> .*), YEARSENTINEL <- the category year
      oracle = """WITH tpl AS (SELECT 'PREFIX dct:  <http://purl.org/dc/terms/>
        |PREFIX dbo:  <http://dbpedia.org/ontology/>
        |PREFIX dbr:  <http://dbpedia.org/resource/>
        |PREFIX rdf:  <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        |SELECT DISTINCT ?film WHERE {
        |{
        |  ?film rdf:type dbo:Film .
        |  ?film dct:subject dbr:Category:YEARSENTINEL_films .
        |  ?film rdfs:label ?label .
        |  FILTER regex(?label, "^NAMEREGEXSENTINEL", "i")
        |}
        |UNION
        |{
        |  ?film rdf:type dbo:Film .
        |  ?film dct:subject dbr:Category:YEARSENTINEL_films .
        |  ?tmp dbo:wikiPageRedirects ?film .
        |  ?tmp rdfs:label ?label .
        |  FILTER regex(?label, "^NAMEREGEXSENTINEL", "i") .
        |}
        |}' AS t)
        |SELECT p_partkey AS item_id,
        |  replace(replace(t, 'NAMEREGEXSENTINEL', replace(p_name, ' ', '.*')),
        |          'YEARSENTINEL', CAST(1970 + p_size % 50 AS VARCHAR)) AS query,
        |  'http://dbpedia.org/resource/' || p_name AS expected
        |FROM part, tpl WHERE p_partkey < 100""".stripMargin),

    // S-series companion to q43: JSON-lines SINK + source roundtrip —
    // the oracle re-reads the file this query writes, so Spark's JSON
    // encoding (string escaping included) is under the hash check
    Query("q88_jsonl_roundtrip", run = (s, dir) => {
      val out = s"$runScratch/q88_jsonl"
      T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, lang STRING, text STRING, n_chars LONG").json(out)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("text_fp"), col("n_chars"))
    },
      oracle = s"""SELECT doc_id, lang, md5(text) AS text_fp, n_chars
        |FROM read_json('$runScratch/q88_jsonl/*.json', format='newline_delimited',
        |  columns={'doc_id':'BIGINT','lang':'VARCHAR','text':'VARCHAR','n_chars':'BIGINT'})""".stripMargin),

    // Hive-style partitioned parquet SINK + partition-PRUNED read-back:
    // the write lays documents out by lang=... directories, the read
    // filter prunes to 2 of 5 partitions before any row is touched
    // (PartitionFilters, spec-pinned) — the layout primitive that turns
    // a 100 TB scan into a 2-partition scan
    Query("q91_partitioned_sink", run = (s, dir) => {
      val out = s"$runScratch/q91_part"
      T(s, dir, "documents").write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang").isin("en", "fr"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    },
      // the partition-pruned read-back must equal the same filter+agg over
      // the unpartitioned original
      oracle = """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY 1, 2""".stripMargin),

    // S-series: ORC sink + source roundtrip (columnar interchange format
    // #2 next to parquet) — DuckDB can't read ORC, so the oracle replays
    // the projection from the original parquet; any roundtrip corruption
    // breaks the hash
    Query("q93_orc_roundtrip", run = (s, dir) => {
      val out = s"$runScratch/q93_orc"
      T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").orc(out)
      s.read.orc(out)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("text_fp"), col("n_chars"))
    },
      // DuckDB has no ORC reader: the oracle replays the projection from
      // the original parquet, so the ORC write+read must be lossless
      oracle = """SELECT doc_id, lang, md5(text) AS text_fp, n_chars FROM documents""".stripMargin),

    // Last-writer-wins key compaction (CDC merge / snapshot refresh):
    // base snapshot at version 0, an update batch rewriting every 5th
    // doc at version 1, one key-windowed compaction — no join
    Query("q97_upsert_compact", run = (s, dir) => {
      val base = T(s, dir, "documents")
        .select(col("doc_id"), col("text"), lit(0).as("version"))
      val updates = T(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), lit(1).as("version"))
      graft.util.Upsert.compact(Seq(base, updates), "doc_id", Seq("version"))
        .select(col("doc_id"), col("version"), md5(col("text")).as("text_fp"))
    },
      // last-wins compaction must equal the CASE-expressed expected state
      oracle = """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS version,
        |  CASE WHEN doc_id % 5 = 0 THEN md5(upper(text)) ELSE md5(text) END AS text_fp
        |FROM documents""".stripMargin),

    // Snapshot diff between two corpus versions: every 11th doc removed,
    // every 7th (surviving) doc rewritten, every 13th re-added under a
    // shifted key — per-status counts plus an order-pinned key digest
    Query("q100_snapshot_diff", run = (s, dir) => {
      val d = T(s, dir, "documents")
      val base = d.select(col("doc_id"), md5(col("text")).as("fp"))
      val next = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, upper(col("text")))
            .otherwise(col("text"))).as("fp"))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), md5(col("text")).as("fp")))
      graft.util.Upsert.diff(base, next, "doc_id", "fp")
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")).as("keys_fp"))
    },
      // replays the diff classification + the synthetic next version
      oracle = """WITH base AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |nx AS (SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS fp
        |       FROM documents WHERE doc_id % 11 <> 0
        |       UNION ALL
        |       SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 13 = 0),
        |d AS (SELECT COALESCE(b.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN b.doc_id IS NULL THEN 'added'
        |             WHEN n.doc_id IS NULL THEN 'removed'
        |             WHEN b.fp <> n.fp THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM base b FULL OUTER JOIN nx n ON b.doc_id = n.doc_id)
        |SELECT status, COUNT(*) AS n,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS keys_fp
        |FROM d GROUP BY 1""".stripMargin),

    // The STREAMING LWW-compaction kernel (q97's semantics through
    // flatMapGroupsWithState) in batch mode: base snapshot + v1 update
    // batch fold to one winner per key inside the state machine — same
    // CASE-expressed oracle shape as q97, so the stateful path is
    // hash-checked like q87 (as-of) and q94 (LSH dedup)
    Query("q104_stream_upsert", run = (s, dir) => {
      import s.implicits._
      val d = T(s, dir, "documents")
      val base = d.select(col("doc_id").as("key"), lit(0).as("version"),
        md5(col("text")).as("fp"))
      val updates = d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("key"), lit(1).as("version"),
          md5(upper(col("text"))).as("fp"))
      val all = base.unionByName(updates).as[graft.stream.StreamingUpsert.Versioned]
      graft.stream.StreamingUpsert.compactStream(all).toDF()
        .select(col("key").as("doc_id"), col("version"), col("fp").as("text_fp"))
    },
      // the stateful kernel must land on the same winners
      oracle = """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS version,
        |  CASE WHEN doc_id % 5 = 0 THEN md5(upper(text)) ELSE md5(text) END AS text_fp
        |FROM documents""".stripMargin)
  )
}
