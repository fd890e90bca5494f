package graft.queries

import graft.text.{Dedup, TextOps}
import Memos._
import Shared._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text and corpus curation: dedup, tokenization, language models, quality gates, entity resolution. */
object Text {

  val all: Seq[Query] = Seq(

    // exact dedup on documents (driver mandate: dedup family)
    Query("q15_dedup_exact", run = (s, dir) =>
      T(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), md5(col("text")).as("fp")),
      oracle = """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, MD5(text) AS fp
        |FROM documents GROUP BY text""".stripMargin),

    // MinHash + banded LSH near-dup candidates with exact Jaccard.
    // threshold 0.2 sits BELOW the default (b=8, r=2) S-curve knee of
    // ~0.35, so this call uses r=1 with 16 bands (knee 0.0625, ~97%
    // recall at J=0.2) — the honest parameterization for its contract.
    Query("q16_minhash_lsh", run = (s, dir) =>
      Dedup.minhashLsh(s, T(s, dir, "documents"), 16, 3, 0.2, rowsPerBand = 1),
      oracle = (minhashCtes(16, 1) +
      """
        |SELECT i.doc_a, i.doc_b, ROUND(ni * 1.0 / (ca.n + cb.n - ni), 6) AS jaccard
        |FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.2""".stripMargin)),

    // 64-bit SimHash fingerprints
    Query("q17_simhash", run = (s, dir) =>
      Dedup.simhash(T(s, dir, "documents").filter(col("doc_id") < 50)),
      oracle = """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |              FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id, md5(t.tk) AS h FROM docs, UNNEST(w) AS t(tk)),
        |bits AS (SELECT doc_id, j,
        |         SUM(CASE WHEN ((strpos('0123456789abcdef', h[1 + j // 4]) - 1)
        |                        // CAST(pow(2, 3 - (j % 4)) AS INT)) % 2 = 1
        |             THEN 1 ELSE -1 END) AS sgn
        |         FROM tok, UNNEST(generate_series(0, 63)) AS tj(j) GROUP BY 1, 2)
        |SELECT doc_id, STRING_AGG(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin),

    // language-ID + quality scoring
    Query("q18_lang_quality", run = (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_guess"),
        TextOps.qualityScore(col("text")).as("quality")),
      oracle = """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS en_n,
        |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS de_n,
        |  len(list_filter(w, x -> x IN ('le','la','et','les','des','un','une','du','est','dans'))) AS fr_n,
        |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un','es','los','del'))) AS es_n,
        |  len(w) AS n FROM d)
        |SELECT doc_id,
        |  CASE WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n THEN 'en'
        |       WHEN de_n >= fr_n AND de_n >= es_n THEN 'de'
        |       WHEN fr_n >= es_n THEN 'fr' ELSE 'es' END AS lang_guess,
        |  ROUND(LEAST(n / 100.0, 1.0) *
        |        (0.5 + 0.5 * LEAST(CAST(en_n AS DOUBLE) / n * 5.0, 1.0)), 6) AS quality
        |FROM sc""".stripMargin),

    // token counting (whitespace + BPE-ish regex)
    Query("q19_token_stats", run = (s, dir) =>
      TextOps.tokenStats(T(s, dir, "documents"), "text"),
      oracle = """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
        |  LENGTH(text) AS n_chars
        |FROM documents""".stripMargin),

    // document fingerprinting
    Query("q20_fingerprint", run = (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")),
      oracle = """SELECT doc_id,
        |  md5(TRIM(regexp_replace(
        |    translate(lower(text), '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', ''),
        |    ' +', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),

    // exact n-gram Jaccard near-dup (brute-force baseline)
    Query("q33_ngram_jaccard", run = (s, dir) =>
      Dedup.ngramJaccard(T(s, dir, "documents").filter(col("doc_id") < 100), 2, 0.3),
      oracle = """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |              FROM documents WHERE doc_id < 100),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
        |       FROM docs, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |       WHERE len(w) >= 2),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS ni
        |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, ROUND(ni * 1.0 / (ca.n + cb.n - ni), 6) AS jaccard
        |FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.3""".stripMargin),

    // dedup clustering: connected components (GraphX) over LSH pairs
    // (memoized — q76 consumes the same cc view)
    Query("q37_dedup_clusters", uses = Seq(dedupCc), run = (s, dir) => dedupCc(s, dir),
      oracle = (minhashCtes(8, 2).replace("WITH ", "WITH RECURSIVE ") +
      """,
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |          JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (SELECT doc_id AS node, doc_id AS comp FROM documents
        |       UNION SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.node = e.a)
        |SELECT node AS doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY node""".stripMargin)),

    // SimHash near-dup pairing: banded Hamming join (pigeonhole: a pair
    // within distance 3 agrees exactly on one of 4 16-bit bands) + exact
    // distance re-check on candidates only. Deterministic md5 bit
    // algebra — the one dedup *join* fully under the hash check (the
    // minhash/embedding LSH joins are seeded)
    Query("q54_simhash_neardup", run = (s, dir) =>
      Dedup.simhashNearDup(T(s, dir, "documents"), maxHamming = 3),
      // simhash CTE identical to q17 (minus the doc_id bound), then the
      // same 4-band pigeonhole join + exact Hamming re-check
      oracle = """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, md5(t.tk) AS h FROM docs, UNNEST(w) AS t(tk)),
        |bits AS (SELECT doc_id, j,
        |         SUM(CASE WHEN ((strpos('0123456789abcdef', h[1 + j // 4]) - 1)
        |                        // CAST(pow(2, 3 - (j % 4)) AS INT)) % 2 = 1
        |             THEN 1 ELSE -1 END) AS sgn
        |         FROM tok, UNNEST(generate_series(0, 63)) AS tj(j) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, STRING_AGG(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |        FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, simhash, b,
        |           substring(simhash, (b * 64) // 4 + 1,
        |                     ((b + 1) * 64) // 4 - (b * 64) // 4) AS chunk
        |           FROM sig, UNNEST(generate_series(0, 3)) AS tb(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                x.simhash AS sa, y.simhash AS sb
        |         FROM banded x JOIN banded y
        |           ON x.b = y.b AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b, CAST(list_sum(list_transform(generate_series(1, 64),
        |    i -> CASE WHEN substring(sa, i, 1) = substring(sb, i, 1) THEN 0 ELSE 1 END)) AS INT) AS hamming
        |  FROM cand) WHERE hamming <= 3""".stripMargin),

    // unigram LM perplexity scoring: corpus-MLE vocab, per-doc mean
    // token log-prob (the CCNet/Gopher-style quality filter, unigram
    // baseline). One token-keyed shuffle + one doc-keyed aggregation.
    Query("q55_unigram_logprob", run = (s, dir) =>
      TextOps.unigramLogProb(T(s, dir, "documents")),
      // avg over ≤10² ln-doubles round(6)-matches (same parity class as
      // q11/q12's per-user means); counts stay exact integers
      oracle = """WITH toks AS (SELECT doc_id, t.tk
        |              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |                   UNNEST(w) AS t(tk)),
        |vocab AS (SELECT tk, COUNT(*) AS c FROM toks GROUP BY tk),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM vocab)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       ROUND(AVG(ln(CAST(c AS DOUBLE) / n_total)), 6) AS avg_logp
        |FROM toks JOIN vocab USING (tk), tot
        |GROUP BY doc_id""".stripMargin),

    // BM25 keyword extraction over whole-corpus (tf, df, dl) statistics
    Query("q60_bm25_keywords", run = (s, dir) =>
      graft.text.Keywords.bm25Keywords(T(s, dir, "documents"), 3)
        .filter(col("doc_id") < 300),
      oracle = """WITH toks AS (
        |  SELECT doc_id, t.term
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |       UNNEST(w) AS t(term)
        |  WHERE t.term <> ''),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS tot FROM dl),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) *
        |         (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * s.n / s.tot))) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |           FROM scored)
        |SELECT doc_id, term, tf, df, ROUND(score, 6) AS score, rank
        |FROM ranked WHERE rank <= 3 AND doc_id < 300""".stripMargin),

    // fixed-block sequence packing via the decomposed global prefix sum
    // (groupWidth forced small so the two-level path really executes)
    Query("q61_sequence_pack", run = (s, dir) =>
      graft.prep.SequencePack.pack(T(s, dir, "documents"), 512, groupWidth = 256L),
      oracle = """WITH cnt AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        -- DuckDB's SUM(BIGINT) widens to HUGEINT (decimal128) —
        |        -- cast back so every derived column is BIGINT like Spark's
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |      FROM cnt)
        |SELECT doc_id, n_tokens, start_off,
        |  CAST(start_off // 512 AS BIGINT) AS block_id,
        |  CAST(start_off % 512 AS BIGINT) AS block_off,
        |  ((start_off + GREATEST(n_tokens, 1) - 1) // 512) <> (start_off // 512) AS spans_blocks
        |FROM c""".stripMargin),

    // train->eval n-gram containment (decontamination gate): last tenth
    // of the corpus checked against the rest
    Query("q62_contamination", run = (s, dir) => {
      val docs = T(s, dir, "documents")
      // scale-independent holdout boundary (one skinny agg, inlined);
      // empty table -> NULL max -> cut 0 (both splits empty, no NPE)
      val maxRow = docs.agg(max("doc_id")).head()
      val cut = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) * 9L / 10L
      graft.text.Contamination.containment(
        docs.filter(col("doc_id") <= cut),
        docs.filter(col("doc_id") > cut), 3)
    },
      oracle = """WITH cut AS (SELECT MAX(doc_id) * 9 // 10 AS c FROM documents),
        |sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |            UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        |       WHERE len(w) >= 3
        |       GROUP BY 1, 2),
        |train_sh AS (SELECT DISTINCT s FROM sh, cut WHERE doc_id <= c),
        |eval_sh AS (SELECT doc_id, s FROM sh, cut WHERE doc_id > c),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM eval_sh GROUP BY 1),
        |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM eval_sh
        |        WHERE s IN (SELECT s FROM train_sh) GROUP BY 1)
        |SELECT c.doc_id, c.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
        |       ROUND(COALESCE(h.n_hit, 0) * 1.0 / c.n_shingles, 6) AS containment
        |FROM cnt c LEFT JOIN hit h ON h.doc_id = c.doc_id""".stripMargin),

    // Gopher-style within-document repetition quality signals: duplicate
    // 3-gram occurrence fraction (narrow, shuffle-free) + top-2-gram
    // share (one (doc, gram)-keyed exchange with partial combine)
    Query("q64_repetition", run = (s, dir) =>
      graft.text.TextOps.repetitionStats(T(s, dir, "documents")),
      // replays TextOps.repetitionStats: 1-based list indexing and
      // end-exclusive range() mirror Spark's element_at/sequence; SUM over
      // BIGINT counts re-cast to BIGINT (DuckDB widens to HUGEINT)
      oracle = """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |d3 AS (SELECT doc_id,
        |         CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) ELSE [] END AS g3
        |       FROM w),
        |dup3 AS (SELECT doc_id, CASE WHEN len(g3) > 0
        |           THEN ROUND(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6) END AS dup_3gram_frac
        |         FROM d3),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i + 1])) AS g
        |       FROM w WHERE len(w) >= 2),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |m2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
        |         ROUND(MAX(c) * 1.0 / CAST(SUM(c) AS BIGINT), 6) AS top_2gram_frac
        |       FROM c2 GROUP BY 1)
        |SELECT d.doc_id, d.dup_3gram_frac, m.n_2grams, m.top_2gram_frac
        |FROM dup3 d LEFT JOIN m2 m ON m.doc_id = d.doc_id""".stripMargin),

    // Mandate: PII scrub — the documents corpus is PII-free by
    // construction, so the query injects deterministic synthetic PII
    // (built from doc_id, identically in the oracle) and the scrubber
    // must find and mask exactly those spans. Pure codegen'd per-row
    // expressions: no shuffle, no UDF.
    Query("q75_pii_scrub", run = (s, dir) => {
      val withPii = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 10."),
          col("doc_id") % 256, lit(".0.1 tel +1-555-"),
          lit(1000) + col("doc_id") % 9000, lit("-"),
          lit(100) + col("doc_id") % 900).as("text"))
      withPii.select(col("doc_id"),
        graft.text.Pii.countEmails(col("text")).as("n_emails"),
        graft.text.Pii.countIps(col("text")).as("n_ips"),
        graft.text.Pii.countPhones(col("text")).as("n_phones"),
        md5(graft.text.Pii.scrub(col("text"))).as("scrubbed_fp"))
    },
      // The same regexes run under RE2 (no lookaround/backrefs, so Java
      // and RE2 agree); DuckDB regexp_replace needs the explicit 'g' flag
      oracle = """WITH withpii AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id || '@example.com or 10.' ||
        |         (doc_id % 256) || '.0.1 tel +1-555-' || (1000 + doc_id % 9000) ||
        |         '-' || (100 + doc_id % 900) AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(text, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |      '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}', '<PHONE>', 'g')) AS scrubbed_fp
        |FROM withpii""".stripMargin),

    // Mandate: the end-to-end dedup pass a corpus user actually runs —
    // q37's clusters reduced to the surviving canonical documents
    // (cc stays persisted: the memo owns its lifetime, not this query)
    Query("q76_dedup_corpus", uses = Seq(dedupCc), run = (s, dir) => {
      val docs = T(s, dir, "documents")
      val out = Dedup.canonical(docs, dedupCc(s, dir))
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    },
      // q37's component labeling, reduced to the canonical survivors
      // (node == min component label) joined back to the corpus
      oracle = (minhashCtes(8, 2).replace("WITH ", "WITH RECURSIVE ") +
      """,
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |          JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (SELECT doc_id AS node, doc_id AS comp FROM documents
        |       UNION SELECT e.b, cc.comp FROM cc JOIN edges e ON cc.node = e.a),
        |lbl AS (SELECT node, MIN(comp) AS comp FROM cc GROUP BY node)
        |SELECT d.doc_id, md5(d.text) AS fp
        |FROM documents d JOIN lbl ON lbl.node = d.doc_id
        |WHERE lbl.comp = lbl.node""".stripMargin)),

    // Fixed-window overlapped chunking (Chunking.chunk, 200-char chunks
    // every 150) — map-only generator, integer arithmetic replayed
    // verbatim by the oracle
    Query("q78_doc_chunks", run = (s, dir) =>
      graft.text.Chunking.chunk(T(s, dir, "documents"), "text", 200, 150,
          Seq("doc_id", "source"))
        .select(col("doc_id"), col("source"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk_text")).as("chunk_fp"),
          col("chunk_chars").cast("long").as("chunk_chars")),
      // integer replay of Chunking.chunk(200, 150):
      // nChunks = 1 if L<=200 else (L-51)//150 + 1; chunk i = [i*150, i*150+200)
      oracle = """WITH d AS (SELECT doc_id, source, text, length(text) AS L FROM documents),
        |n AS (SELECT *, CASE WHEN L <= 200 THEN 1 ELSE (L - 51) // 150 + 1 END AS nc FROM d)
        |SELECT doc_id, source, i AS chunk_idx,
        |  md5(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_fp,
        |  length(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_chars
        |FROM n, UNNEST(generate_series(0, nc - 1)) AS t(i)""".stripMargin),

    // Temperature-weighted domain mixing (Sampling.domainMix, alpha=0.5
    // over per-source char mass, target 50%) — per-domain md5-threshold
    // Bernoulli, broadcast rates, keep_rate pinned to 6 decimals so the
    // two engines' pow draws agree at the threshold
    Query("q79_domain_mix", run = (s, dir) =>
      graft.util.Sampling.domainMix(T(s, dir, "documents"), "source", "n_chars",
          alpha = 0.5, targetFraction = 0.5, seed = 7L, keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("keep_rate")),
      // replay of Sampling.domainMix(alpha=0.5, target=0.5, seed=7):
      // same stats -> pow -> round-6 keep_rate -> md5 threshold chain
      oracle = """WITH stats AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
        |                CAST(SUM(n_chars) AS DOUBLE) AS tok FROM documents GROUP BY 1),
        |w AS (SELECT source, n, pow(tok, 0.5) AS w FROM stats),
        |tot AS (SELECT SUM(w) AS sumw, SUM(n) AS bign FROM w),
        |rates AS (SELECT source, CAST(ROUND(LEAST(1.0, 0.5 * bign * w / sumw / n), 6) AS DOUBLE) AS keep_rate
        |          FROM w, tot)
        |SELECT d.doc_id, d.source, r.keep_rate
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE r.keep_rate >= 1.0 OR
        |  substring(md5(CAST(d.doc_id AS VARCHAR) || '|' || '7'), 1, 8) <
        |    printf('%08x', CAST(floor(keep_rate * 4294967296) AS BIGINT))""".stripMargin),

    // URL extraction + normalization (UrlOps) — q75's injection scheme:
    // the corpus is URL-free by construction, so deterministic URLs are
    // injected from doc_id identically in the oracle; the extractor
    // must find and normalize exactly those
    Query("q86_url_extract", run = (s, dir) => {
      val withUrls = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://Sub"), col("doc_id") % 50, lit(".Example.COM/p/"),
          col("doc_id"), lit("?q=1 and http://www.m"), col("doc_id") % 7,
          lit(".org/ done")).as("text"))
      val urls = graft.text.UrlOps.extractUrls(col("text"))
      withUrls.select(col("doc_id"),
        size(urls).cast("long").as("n_urls"),
        graft.text.UrlOps.domainOf(element_at(urls, 1)).as("first_domain"),
        md5(array_join(transform(urls, u => graft.text.UrlOps.normalizeUrl(u)), "|"))
          .as("urls_fp"))
    },
      // replay of UrlOps over the same injected URLs; the regex is in the
      // Java/RE2 common subset so both engines extract identical spans
      oracle = """WITH d AS (SELECT doc_id, text || ' see https://Sub' || (doc_id % 50) ||
        |             '.Example.COM/p/' || doc_id || '?q=1 and http://www.m' ||
        |             (doc_id % 7) || '.org/ done' AS text FROM documents),
        |u AS (SELECT doc_id, regexp_extract_all(text,
        |        'https?://[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+(/[A-Za-z0-9./_?=&-]*)?') AS urls
        |      FROM d)
        |SELECT doc_id, len(urls) AS n_urls,
        |  regexp_replace(lower(regexp_extract(urls[1], 'https?://([A-Za-z0-9.-]+)', 1)),
        |                 '^www\.', '') AS first_domain,
        |  md5(list_aggregate(list_transform(urls, x ->
        |    regexp_replace(lower(regexp_extract(x, '(https?://[A-Za-z0-9.-]+)', 1)) ||
        |      regexp_replace(x, '^https?://[A-Za-z0-9.-]+', ''), '/$', '')),
        |    'string_agg', '|')) AS urls_fp
        |FROM u""".stripMargin),

    // C4-style line-level corpus dedup: 3-word "lines" (the driver corpus
    // has no newlines; its small vocabulary makes 3-grams recur across
    // docs naturally), every non-first occurrence dropped corpus-wide,
    // docs reassembled from survivors — per-doc counts + reassembled-text
    // fingerprint under the hash
    Query("q89_line_dedup", run = (s, dir) => {
      graft.text.LineDedup.dedupCorpus(T(s, dir, "documents"), 3)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text")).as("text_fp"))
    },
      // replays LineDedup.dedupCorpus(wordsPerLine = 3): fixed word
      // grouping (1-based inclusive list slice == Spark's slice), global
      // first-occurrence rank over (doc_id, line_idx), survivors
      // reassembled in line order ('' when nothing survives, matching
      // Spark's array_join over an empty array)
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |l AS (SELECT doc_id,
        |        unnest(range((len(w) + 2) // 3)) AS line_idx,
        |        unnest(list_transform(range((len(w) + 2) // 3),
        |          i -> array_to_string(w[i * 3 + 1 : i * 3 + 3], ' '))) AS line
        |      FROM w),
        |k AS (SELECT doc_id, line_idx, line,
        |        ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_idx) = 1 AS kept
        |      FROM l)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY line_idx), '')) AS text_fp
        |FROM k GROUP BY doc_id""".stripMargin),

    // Lee-et-al span-level dup signal: fraction of each doc's positional
    // 5-gram spans that occur in >= 2 distinct documents (permille,
    // floor — integer-exact across engines)
    Query("q90_dup_spans", run = (s, dir) =>
      Dedup.dupSpanStats(T(s, dir, "documents"), 5),
      // replays Dedup.dupSpanStats(k = 5): positional (non-distinct)
      // 5-grams, duplicated iff seen in >= 2 distinct docs, permille as
      // floor integer division
      oracle = """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |         i -> array_to_string(w[i : i + 4], ' '))) AS s
        |       FROM w WHERE len(w) >= 5),
        |dup AS (SELECT s FROM sp GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM sp GROUP BY 1),
        |dc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        |       FROM sp WHERE s IN (SELECT s FROM dup) GROUP BY 1)
        |SELECT t.doc_id, t.n_spans,
        |  COALESCE(d.n_dup, 0) AS n_dup_spans,
        |  (COALESCE(d.n_dup, 0) * 1000) // t.n_spans AS dup_permille
        |FROM tot t LEFT JOIN dc d USING (doc_id)""".stripMargin),

    // The STREAMING LSH dedup kernel (bucket-anchor state machine) in
    // batch mode, against an independent DuckDB replay of the full
    // minhash chain: shingle → md5 48-bit parse → affine minhashes →
    // 4×2 banding → per-bucket min-doc anchor → (anchor, member) pairs
    // counted per band
    Query("q94_stream_lsh_dedup", run = (s, dir) =>
      graft.stream.StreamingDedup.candidates(T(s, dir, "documents"), 4, 3, 2)
        .toDF()
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands")),
      // independent replay of the streaming bucket-anchor kernel's batch
      // form: the shared minhash CTE chain (4 bands × 2 rows) down to
      // `sig`, then per-bucket min-doc anchors and (anchor, member) pairs
      // counted across bands
      oracle = (minhashCtes(4, 2) +
      """,
        |anch AS (SELECT b, h1, h2, MIN(doc_id) AS anchor FROM sig GROUP BY 1, 2, 3),
        |pr AS (SELECT a.anchor AS doc_a, s.doc_id AS doc_b
        |       FROM sig s JOIN anch a ON s.b = a.b AND s.h1 = a.h1 AND s.h2 = a.h2
        |       WHERE s.doc_id <> a.anchor)
        |SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_bands
        |FROM pr GROUP BY 1, 2""".stripMargin)),

    // BPE training's distributed core — frequency-weighted adjacent
    // symbol-pair counts over the character-tokenized word vocabulary
    // (round 1 of Bpe.train), top 20 under a total tie order
    Query("q95_bpe_pairs", run = (s, dir) =>
      graft.text.Bpe.pairCounts(graft.text.Bpe.initialVocab(T(s, dir, "documents")))
        .orderBy(desc("cnt"), col("a"), col("b")).limit(20),
      // replays Bpe round 1: character pairs over the word vocabulary,
      // weighted by word frequency, total tie order at the top-20 cut
      oracle = """WITH wd AS (SELECT unnest(string_split(replace(lower(text), chr(31), ''), ' ')) AS w FROM documents),
        |wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM wd WHERE len(w) > 0 GROUP BY 1),
        |pr AS (SELECT w[i] AS a, w[i + 1] AS b, f
        |       FROM wf, UNNEST(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2)
        |SELECT a, b, CAST(SUM(f) AS BIGINT) AS cnt
        |FROM pr GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin),

    // BPE ENCODING with a fixed merge table (the production op: apply a
    // released vocab to a corpus; this table is what Bpe.train(8) learns
    // on the sf0.01 corpus — see BpeProbe). Each merge is one codegen'd
    // replace over the U+001F-joined tokenization; the oracle replays
    // the identical replace chain
    Query("q96_bpe_encode", run = (s, dir) =>
      graft.text.Bpe.encode(T(s, dir, "documents"), BpeMerges)
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          md5(col("tokens")).as("tokens_fp")),
      // replays Bpe.encode's replace chain verbatim: chr(31)-WRAPPED
      // tokens ("tom" -> ␟t␟␟o␟␟m␟), one nested whole-token replace per
      // merge (␟a␟␟b␟ -> ␟ab␟; matches never share characters, so
      // left-to-right non-overlapping replace == BPE's greedy merge scan
      // in both engines). Merge table = the SAME BpeMerges the Spark
      // query uses — one source of truth, retraining can't desynchronize
      oracle = {
      val sep = "chr(31)"
      val charSplit =
        s"$sep || array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), $sep || $sep) || $sep"
      val merged = BpeMerges.foldLeft(charSplit) { case (acc, (a, b)) =>
        s"replace($acc, $sep || '$a' || $sep || $sep || '$b' || $sep, $sep || '$a$b' || $sep)"
      }
      s"""WITH ws AS (SELECT doc_id,
         |        list_filter(string_split(replace(lower(text), chr(31), ''), ' '), w -> len(w) > 0) AS ws
         |      FROM documents),
         |tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |        array_to_string(list_transform(ws, w -> $merged), ' ') AS ts
         |      FROM ws)
         |SELECT doc_id, n_words,
         |  CAST((len(ts) - len(replace(ts, chr(31), ''))) // 2 AS BIGINT) AS n_tokens,
         |  md5(replace(replace(ts, chr(31) || chr(31), ' '), chr(31), '')) AS tokens_fp
         |FROM tk""".stripMargin
    }),

    // Gopher/FineWeb-style curation gate: five deterministic rules with
    // the failed set as a bitmask (pipelines keep reasons for ablations,
    // not just the verdict); pure integer arithmetic, shuffle-free
    Query("q99_curation_gate", run = (s, dir) =>
      TextOps.curationGate(T(s, dir, "documents")),
      // replays TextOps.curationGate: the q18 stopword CTE extended with
      // the rule arithmetic — every threshold as integer permille/centi
      // floors, bitmask composed by CASE addition
      oracle = """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |sc AS (SELECT doc_id, lang, w, len(w) AS n,
        |  len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS en_n,
        |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS de_n,
        |  len(list_filter(w, x -> x IN ('le','la','et','les','des','un','une','du','est','dans'))) AS fr_n,
        |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un','es','los','del'))) AS es_n
        |  FROM d),
        |g AS (SELECT doc_id, lang, n,
        |  CASE WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n THEN 'en'
        |       WHEN de_n >= fr_n AND de_n >= es_n THEN 'de'
        |       WHEN fr_n >= es_n THEN 'fr' ELSE 'es' END AS lang_guess,
        |  GREATEST(en_n, de_n, fr_n, es_n) AS stop_g,
        |  CASE WHEN n >= 3 THEN list_transform(range(1, n - 1),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) ELSE [] END AS g3,
        |  CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sumlen
        |  FROM sc),
        |r AS (SELECT doc_id, CAST(n AS BIGINT) AS n_words, lang_guess,
        |  (CASE WHEN n < 20 OR n > 1000 THEN 1 ELSE 0 END
        |   + CASE WHEN lang_guess <> lang THEN 2 ELSE 0 END
        |   + CASE WHEN stop_g < 2 THEN 4 ELSE 0 END
        |   + CASE WHEN len(g3) > 0 AND (CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) * 1000) // len(g3) > 300
        |     THEN 8 ELSE 0 END
        |   + CASE WHEN (100 * sumlen) // n < 300 OR (100 * sumlen) // n > 1000 THEN 16 ELSE 0 END) AS reasons
        |  FROM g)
        |SELECT doc_id, n_words, lang_guess, CAST(reasons AS INT) AS reasons,
        |  reasons = 0 AS keep FROM r""".stripMargin),

    // Unicode NFC normalization (native codegen'd expression; DuckDB's
    // utf8proc nfc_normalize is the independent oracle): every 3rd doc
    // gets a DECOMPOSED accent appended (e + U+0301), normalization
    // must collapse it to the composed form — codepoint lengths and the
    // normalized fingerprint are under the hash
    Query("q103_unicode_normalize", run = (s, dir) => {
      val txt = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" e\u0301clat"))).otherwise(col("text"))
      T(s, dir, "documents")
        .select(col("doc_id"), txt.as("txt"))
        .select(col("doc_id"), length(col("txt")).cast("long").as("len_raw"),
          graft.functions.NfcNormalize(col("txt")).as("norm"))
        .select(col("doc_id"), col("len_raw"),
          length(col("norm")).cast("long").as("len_nfc"),
          md5(col("norm")).as("norm_fp"))
    },
      // the decomposed accent (e + chr(769)) must collapse under both
      // engines' NFC (java.text.Normalizer vs utf8proc)
      oracle = """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' e' || chr(769) || 'clat'
        |         ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id, CAST(length(txt) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(txt)) AS BIGINT) AS len_nfc,
        |  md5(nfc_normalize(txt)) AS norm_fp
        |FROM t""".stripMargin),

    // Dedup observability: which SOURCES contribute the duplicate mass
    // (the audit every corpus-dedup rollout ships with). A doc is a dup
    // candidate iff some LSH bucket pairs it with an earlier anchor
    // (q94's contract); rates as floor permille per source
    Query("q105_dedup_audit", run = (s, dir) => {
      val docs = T(s, dir, "documents")
      val dups = Dedup.lshAnchorPairs(docs, 4, 3, 2)
        .select(col("doc_b").as("doc_id")).distinct()
      docs.join(dups.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup"))
        .select(col("source"), col("n_docs"), col("n_dup"),
          expr("n_dup * 1000 div n_docs").as("dup_permille"))
    },
      // same minhash/banding/anchor chain as q94, rolled up per source
      oracle = (minhashCtes(4, 2) +
      """,
        |anch AS (SELECT b, h1, h2, MIN(doc_id) AS anchor FROM sig GROUP BY 1, 2, 3),
        |dups AS (SELECT DISTINCT s.doc_id
        |         FROM sig s JOIN anch a ON s.b = a.b AND s.h1 = a.h1 AND s.h2 = a.h2
        |         WHERE s.doc_id <> a.anchor)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(p.doc_id) AS BIGINT) AS n_dup,
        |  (CAST(COUNT(p.doc_id) AS BIGINT) * 1000) // COUNT(*) AS dup_permille
        |FROM documents d LEFT JOIN dups p ON d.doc_id = p.doc_id
        |GROUP BY 1""".stripMargin)),

    // Token-budgeted quality selection (FineWeb-edu-style corpus
    // assembly): per source, admit documents in (quality DESC, doc_id)
    // order until the cumulative token count crosses the budget — a doc
    // is in iff the budget wasn't exhausted BEFORE it. The running sum
    // is the decomposed three-level prefix sum of
    // [[graft.prep.TokenBudget]] (bit-identical to the naive per-source
    // window, minus its monolithic per-source sort)
    Query("q106_token_budget_select", run = (s, dir) => {
      val budget = 2000L
      val scored = T(s, dir, "documents").select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.prep.TokenBudget.select(scored, budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"), max("cum_tokens").as("tokens_taken"),
          md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")).as("ids_fp"))
    },
      // replays the budgeted selection: q18's quality formula, the same
      // (quality DESC, doc_id) total order, cumulative tokens, admit iff
      // the budget wasn't exhausted before the row
      oracle = """WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |sc AS (SELECT doc_id, source, n_tokens,
        |  ROUND(LEAST(len(w) / 100.0, 1.0) *
        |        (0.5 + 0.5 * LEAST(CAST(len(list_filter(w,
        |           x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
        |           / len(w) * 5.0, 1.0)), 6) AS quality
        |  FROM d),
        |cum AS (SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM sc)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
        |  CAST(MAX(cum_tokens) AS BIGINT) AS tokens_taken,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_fp
        |FROM cum WHERE cum_tokens - n_tokens < 2000
        |GROUP BY 1""".stripMargin),

    // The COMPOSED corpus pipeline — every stage is individually green
    // (q99, q89, q76, q106, q61, q84); this runs them as one chained
    // plan and hashes the final shard manifest, pinning the column
    // contracts and fingerprint stability ACROSS stage boundaries (the
    // reference's own value is the chained experiment, not single ops):
    // curation gate → line-level dedup (rewritten text, '\n'→' ') →
    // MinHash-LSH near-dup clusters → canonical survivors →
    // token-budgeted quality selection per source → fixed-block
    // sequence packing → deterministic sharding
    Query("q108_pipeline_e2e", warm = true, run = (s, dir) => {
      val budget = 1500L
      val docs = T(s, dir, "documents")
      // 1. curation gate (pushdown-barriered keep filter), back to rows
      val keptIds = TextOps.curationKept(docs).select("doc_id")
      val kept = docs.join(keptIds, Seq("doc_id"), "left_semi")
      // 2. line-level dedup; survivors only; newline-joined reassembly
      //    flattened back to a space-separated token stream
      val rewritten = graft.text.LineDedup.dedupCorpus(kept, 3)
        .filter(col("n_kept") > 0)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          translate(col("text"), "\n", " ").as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 3. near-dup clusters over the REWRITTEN corpus (same 8×2-band,
      //    J≥0.8 parameterization as q76), canonical min-id survivors
      val pairs = Dedup.minhashLsh(s, rewritten, 8, 3, 0.8)
      val cc = Dedup.clusters(s, rewritten, pairs)
      pairs.unpersist(blocking = false)
      val canon = Dedup.canonical(rewritten, cc)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 4. per-source token budget in (quality DESC, doc_id) order via
      //    the decomposed prefix sum
      val scored = canon.select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val selected = graft.prep.TokenBudget.select(scored, budget)
      // 5. fixed-block packing of the admitted docs (doc_id order)
      val packIn = canon.join(selected.select("doc_id"), Seq("doc_id"), "left_semi")
      val packed = graft.prep.SequencePack.pack(packIn, 512, groupWidth = 256L)
      // 6. deterministic sharding + the manifest a loader would consume
      val sharded = graft.util.Sampling.shard(
        selected.select("doc_id"), nShards = 4, seed = 5L, keyCols = Seq("doc_id"))
      packed.join(sharded.select("doc_id", "shard"), Seq("doc_id"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          sum(when(col("spans_blocks"), 1L).otherwise(0L)).as("n_spanning"),
          md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")).as("ids_fp"))
    },
      // full independent replay of the COMPOSED pipeline: the q99 gate,
      // the q89 line dedup (newline flattened to space), the q76 minhash
      // chain + recursive CC re-rooted on the rewritten corpus, the q106
      // budget window, the q61 prefix sum, the q84 md5 shard — chained
      // into one CTE graph ending at the shard manifest
      oracle = ("WITH RECURSIVE " +
      """cg_d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |cg_s AS (SELECT doc_id, lang, w, len(w) AS n,
        |  len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS en_n,
        |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS de_n,
        |  len(list_filter(w, x -> x IN ('le','la','et','les','des','un','une','du','est','dans'))) AS fr_n,
        |  len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un','es','los','del'))) AS es_n
        |  FROM cg_d),
        |cg_g AS (SELECT doc_id, lang, n,
        |  CASE WHEN en_n >= de_n AND en_n >= fr_n AND en_n >= es_n THEN 'en'
        |       WHEN de_n >= fr_n AND de_n >= es_n THEN 'de'
        |       WHEN fr_n >= es_n THEN 'fr' ELSE 'es' END AS lang_guess,
        |  GREATEST(en_n, de_n, fr_n, es_n) AS stop_g,
        |  CASE WHEN n >= 3 THEN list_transform(range(1, n - 1),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) ELSE [] END AS g3,
        |  CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sumlen
        |  FROM cg_s),
        |keep AS (SELECT doc_id FROM cg_g
        |  WHERE NOT (n < 20 OR n > 1000) AND lang_guess = lang AND stop_g >= 2
        |    AND NOT (len(g3) > 0 AND (CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) * 1000) // len(g3) > 300)
        |    AND (100 * sumlen) // n BETWEEN 300 AND 1000),
        |ld_w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |         WHERE doc_id IN (SELECT doc_id FROM keep)),
        |ld_l AS (SELECT doc_id,
        |        unnest(range((len(w) + 2) // 3)) AS line_idx,
        |        unnest(list_transform(range((len(w) + 2) // 3),
        |          i -> array_to_string(w[i * 3 + 1 : i * 3 + 3], ' '))) AS line
        |      FROM ld_w),
        |ld_k AS (SELECT doc_id, line_idx, line,
        |        ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_idx) = 1 AS kept
        |      FROM ld_l),
        |ld_re AS (SELECT doc_id,
        |        string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_idx) AS text
        |      FROM ld_k GROUP BY doc_id),
        |corpus2 AS (SELECT re.doc_id, dd.source, re.text
        |      FROM ld_re re JOIN documents dd USING (doc_id) WHERE re.text IS NOT NULL),
        |""".stripMargin +
      minhashCtes(8, 2, src = "corpus2", lead = "") +
      """,
        |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
        |          JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |          WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |ccx AS (SELECT doc_id AS node, doc_id AS comp FROM corpus2
        |        UNION SELECT e.b, ccx.comp FROM ccx JOIN edges e ON ccx.node = e.a),
        |lbl AS (SELECT node, MIN(comp) AS comp FROM ccx GROUP BY node),
        |canon AS (SELECT c2.doc_id, c2.source, c2.text FROM corpus2 c2
        |          JOIN lbl ON lbl.node = c2.doc_id WHERE lbl.comp = lbl.node),
        |tb_q AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM canon),
        |tb_s AS (SELECT doc_id, source, n_tokens,
        |  ROUND(LEAST(len(w) / 100.0, 1.0) *
        |        (0.5 + 0.5 * LEAST(CAST(len(list_filter(w,
        |           x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
        |           / len(w) * 5.0, 1.0)), 6) AS quality
        |  FROM tb_q),
        |tb_c AS (SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM tb_s),
        |sel AS (SELECT doc_id FROM tb_c WHERE cum_tokens - n_tokens < 1500),
        |pk_c AS (SELECT c.doc_id,
        |    CAST(len(list_filter(string_split(lower(c.text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM canon c JOIN sel USING (doc_id)),
        |pk_o AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM pk_c),
        |pk AS (SELECT doc_id, n_tokens,
        |    ((start_off + GREATEST(n_tokens, 1) - 1) // 512) <> (start_off // 512) AS spans_blocks
        |  FROM pk_o),
        |shd AS (SELECT doc_id,
        |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || '5'), 1, 8)) AS BIGINT) % 4 AS INT) AS shard
        |  FROM sel)
        |SELECT s2.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(p.n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(CASE WHEN p.spans_blocks THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
        |  md5(string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id)) AS ids_fp
        |FROM pk p JOIN shd s2 USING (doc_id)
        |GROUP BY 1""".stripMargin)),

    // tokenizer fertility per source: BPE tokens per character of the
    // q96 fixed merge table — the tokenizer-efficiency readout used to
    // compare vocabularies; all-integer rollup (tokens*10^4 div chars)
    Query("q119_token_fertility", run = (s, dir) => {
      val docs = T(s, dir, "documents")
      val enc = graft.text.Bpe.encode(docs, BpeMerges)
        .select(col("doc_id"), col("n_tokens"))
      docs.select(col("doc_id"), col("source"),
          aggregate(
            filter(split(translate(lower(col("text")), "\u001F", ""), " "),
              w => length(w) > 0),
            lit(0L), (a, w) => a + length(w).cast("long")).as("n_chars"))
        .join(enc, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("fert_e4",
          expr("(sum_tokens * 10000) div greatest(sum_chars, 1L)"))
    },
      // q96's replace-chain replay + per-source integer rollup
      oracle = {
      val sep = "chr(31)"
      val charSplit =
        s"$sep || array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), $sep || $sep) || $sep"
      val merged = BpeMerges.foldLeft(charSplit) { case (acc, (a, b)) =>
        s"replace($acc, $sep || '$a' || $sep || $sep || '$b' || $sep, $sep || '$a$b' || $sep)"
      }
      s"""WITH ws AS (SELECT doc_id, source,
         |        list_filter(string_split(replace(lower(text), chr(31), ''), ' '), w -> len(w) > 0) AS ws
         |      FROM documents),
         |tk AS (SELECT doc_id, source,
         |        CAST((len(ts) - len(replace(ts, chr(31), ''))) // 2 AS BIGINT) AS n_tokens,
         |        COALESCE(CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT), 0) AS n_chars
         |      FROM (SELECT doc_id, source, ws,
         |              array_to_string(list_transform(ws, w -> $merged), ' ') AS ts FROM ws))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST((CAST(SUM(n_tokens) AS BIGINT) * 10000) //
         |       GREATEST(CAST(SUM(n_chars) AS BIGINT), 1) AS BIGINT) AS fert_e4
         |FROM tk GROUP BY 1""".stripMargin
    }),

    // word2vec-style phrase detection: adjacent-token lift in exact
    // scaled integers over the documents token stream
    Query("q127_collocations", run = (s, dir) =>
      graft.text.Collocations.phrases(
        T(s, dir, "documents"), "text", minCount = 10, delta = 5),
      // DuckDB's zip-unnest (parallel unnests advance in lockstep)
      // rebuilds the adjacent pairs; uni is referenced three times but
      // is a flat CTE, not an unrolled chain — no inlining blowup
      oracle = """WITH w AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
        |           FROM documents),
        |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM (SELECT unnest(ws) AS t FROM w) GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nw FROM uni),
        |bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cooc FROM (
        |    SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
        |    FROM w WHERE len(ws) >= 2) GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        |SELECT bi.a, bi.b, cooc,
        |  (cooc - 5) * (SELECT nw FROM n) * 10000 // (ua.cnt * ub.cnt) AS lift_e4
        |FROM bi JOIN uni ua ON ua.t = bi.a JOIN uni ub ON ub.t = bi.b""".stripMargin),

    // sharded inverted index over the documents corpus (posting rows
    // bounded at shardSize entries; hot terms spread across shards)
    Query("q130_inverted_index", run = (s, dir) =>
      graft.text.InvertedIndex.build(T(s, dir, "documents"), "doc_id", "text",
        shardSize = 64),
      oracle = """WITH tf AS (
        |  SELECT t AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |                                      x -> len(x) > 0)) AS t
        |    FROM documents) GROUP BY 1, 2)
        |SELECT term, doc_id // 64 AS shard, CAST(COUNT(*) AS BIGINT) AS df,
        |       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY 1, 2""".stripMargin),

    // skip-gram context matrix: ordered token pairs within 3
    // positions, tagged by offset (q127 is the window=1 slice)
    Query("q134_cooccurrence", run = (s, dir) =>
      graft.text.CoOccurrence.matrix(T(s, dir, "documents"), "text",
        window = 3, minCount = 5)
        .select(col("left").as("w_left"), col("right").as("w_right"),
          col("offset").as("dist"), col("n")),
      // per-offset zip-unnest slices (ws[1:n-d] zipped against
      // ws[1+d:n]); `offset` is a DuckDB keyword, hence `dist`
      oracle = """WITH w AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
        |           FROM documents),
        |pairs AS (
        |  SELECT unnest(ws[1:len(ws)-1]) AS w_left, unnest(ws[2:len(ws)]) AS w_right,
        |         1 AS dist FROM w WHERE len(ws) > 1
        |  UNION ALL
        |  SELECT unnest(ws[1:len(ws)-2]), unnest(ws[3:len(ws)]), 2 FROM w WHERE len(ws) > 2
        |  UNION ALL
        |  SELECT unnest(ws[1:len(ws)-3]), unnest(ws[4:len(ws)]), 3 FROM w WHERE len(ws) > 3)
        |SELECT w_left, w_right, dist, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pairs GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5""".stripMargin),

    // bigram-LM document scoring with add-one smoothing (the rung
    // above q55's unigram on the CCNet/KenLM quality ladder); narrow
    // zip pairing + the same estimate-and-score shuffle shape
    Query("q144_bigram_logprob", run = (s, dir) =>
      TextOps.bigramLogProb(T(s, dir, "documents")),
      // bigram LM: pairs from the zip of w against its 1-shifted self
      // (numeric struct index — DuckDB's list_zip yields unnamed
      // structs); counts and V exactly as the Spark side
      oracle = """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |toks AS (SELECT doc_id, t.tk FROM d, UNNEST(w) AS t(tk)),
        |bg AS (SELECT doc_id, p[1] AS l, p[2] AS r
        |       FROM (SELECT doc_id, UNNEST(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        |             FROM d WHERE len(w) >= 2)),
        |bgc AS (SELECT l, r, COUNT(*) AS cbg FROM bg GROUP BY 1, 2),
        |lc AS (SELECT l, COUNT(*) AS cl FROM bg GROUP BY 1),
        |vs AS (SELECT CAST(COUNT(DISTINCT tk) AS DOUBLE) AS v FROM toks)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |       ROUND(AVG(ln((CAST(cbg AS DOUBLE) + 1.0) / (CAST(cl AS DOUBLE) + v))), 6) AS avg_logp
        |FROM bg JOIN bgc USING (l, r) JOIN lc USING (l), vs
        |GROUP BY doc_id""".stripMargin),

    // windowed PMI association scores (Church & Hanks; SGNS
    // factorizes shifted PMI) over the offset-aggregated q134 matrix
    Query("q156_pmi", run = (s, dir) =>
      graft.text.CoOccurrence.pmi(T(s, dir, "documents"), "text",
        window = 3, minCount = 5L),
      // PMI: q134's per-offset zip-unnest pairs aggregated over offsets,
      // unigrams over the same filtered stream, q12's round-6 log2
      oracle = """WITH w AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
        |           FROM documents),
        |pairs AS (
        |  SELECT unnest(ws[1:len(ws)-1]) AS l, unnest(ws[2:len(ws)]) AS r FROM w WHERE len(ws) > 1
        |  UNION ALL
        |  SELECT unnest(ws[1:len(ws)-2]), unnest(ws[3:len(ws)]) FROM w WHERE len(ws) > 2
        |  UNION ALL
        |  SELECT unnest(ws[1:len(ws)-3]), unnest(ws[4:len(ws)]) FROM w WHERE len(ws) > 3),
        |pc AS (SELECT l AS wl, r AS wr, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2
        |       HAVING COUNT(*) >= 5),
        |uni AS (SELECT t.tk AS w, CAST(COUNT(*) AS BIGINT) AS c FROM w, UNNEST(ws) AS t(tk) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS nn FROM uni)
        |SELECT wl AS "left", wr AS "right", n,
        |       ROUND(LOG2(CAST(n AS DOUBLE) * nn / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE))), 6) AS pmi
        |FROM pc JOIN uni ul ON ul.w = wl JOIN uni ur ON ur.w = wr, tot""".stripMargin),

    // train/eval decontamination (GPT-3 C / FineWeb stage): 5-gram
    // overlap against the doc_id<20 "benchmark" slice, contaminated at
    // >= 3 shared distinct grams with any one eval doc
    Query("q182_decontamination", run = (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.text.Decontamination.flags(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        k = 5, minShared = 3L)
    },
      // decontamination: the q33 shingle algebra, train x eval overlap
      oracle = """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
        |       FROM d, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        |       WHERE len(w) >= 5),
        |j AS (SELECT tr.doc_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
        |      FROM (SELECT * FROM sh WHERE doc_id >= 20) tr
        |      JOIN (SELECT * FROM sh WHERE doc_id < 20) ev USING (s)
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT doc_id, COUNT(*) AS n_eval_matches, MAX(n_shared) AS max_shared
        |FROM j GROUP BY 1""".stripMargin),

    // EXACT containment join (AllPairs/PPJoin prefix filter, rarest-
    // first order): near-SUBSET duplication that Jaccard banding is
    // blind to — lossless by the pigeonhole bound, integer thresholds
    Query("q191_containment_dedup", run = (s, dir) =>
      graft.text.Dedup.containmentJoin(T(s, dir, "documents"),
        shingleK = 3, tPerMille = 800L, minShingles = 5),
      // containment: the q33 shingle algebra + integer prefix filter
      oracle = """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
        |dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |pref AS (SELECT doc_id AS doc_a, n AS na, s FROM (
        |    SELECT sh.doc_id, cnt.n, sh.s,
        |           ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY dfreq.df, sh.s) AS rk
        |    FROM sh JOIN dfreq USING (s) JOIN cnt USING (doc_id)
        |    WHERE cnt.n >= 5)
        |  WHERE rk <= n - ((800 * n + 999) // 1000) + 1),
        |cand AS (SELECT DISTINCT p.doc_a, b.doc_id AS doc_b, p.na
        |         FROM pref p JOIN sh b USING (s) WHERE p.doc_a <> b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, c.na, COUNT(*) AS ni
        |          FROM cand c JOIN sh x ON x.doc_id = c.doc_a
        |          JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        |          GROUP BY 1, 2, 3)
        |SELECT doc_a, doc_b, na, ni, ROUND(ni * 1.0 / na, 6) AS containment
        |FROM inter WHERE ni * 1000 >= 800 * na""".stripMargin),

    // sorted-neighborhood dedup (Hernández–Stolfo): normalized-prefix
    // sort + window-10 structural blocking, exact bigram-Jaccard
    // verification in integer permille — candidate volume exactly
    // ≤ 9·N independent of key skew
    Query("q197_sorted_neighborhood", run = (s, dir) =>
      Dedup.sortedNeighborhood(T(s, dir, "documents"), w = 10, shingleK = 2,
        tPerMille = 100L),
      // SNM replay: the window pairing is a plain rank-gap inequality
      // join at oracle scale; the Spark side's adjacent-block join is
      // plan shape only, same pairs
      oracle = """WITH keyed AS (SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS key
        |  FROM documents),
        |ranked AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rn FROM keyed),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rn - a.rn AS gap
        |  FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn - a.rn <= 9),
        |d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
        |       FROM d, UNNEST(generate_series(1, len(w) - 1)) AS t(i) WHERE len(w) >= 2),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, c.gap, COUNT(*) AS ni
        |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a
        |              JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        |  GROUP BY 1, 2, 3)
        |SELECT i.doc_a, i.doc_b, i.gap,
        |  CAST((ni * 1000) // (ca.n + cb.n - ni) AS BIGINT) AS jac_permille
        |FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
        |WHERE ni * 1000 >= 100 * (ca.n + cb.n - ni)""".stripMargin),

    // entity resolution (Fellegi–Sunter shape): two-key blocking →
    // integer-permille field agreement (token Jaccard + exact + linear
    // numeric falloff) → weighted score → top-1 assignment per left
    // record; right side = a deterministically dirtied catalog (last
    // name word dropped, ids offset), so the oracle replays it and the
    // spec can measure truth recovery
    Query("q200_entity_resolution", uses = Seq(erScored), warm = true, run = (s, dir) => erResolve(s, dir, unique = false),
      // entity resolution: blocking joins + list-algebra token Jaccard +
      // integer falloff, top-1 by (score desc, right_id)
      oracle = (erScoringSql +
      """,
        |fin AS (SELECT left_id, right_id, sim_name, sim_brand, sim_size,
        |    3 * sim_name + 1 * sim_brand + 1 * sim_size AS score FROM scored
        |  WHERE 3 * sim_name + 1 * sim_brand + 1 * sim_size >= 3000)
        |SELECT left_id, right_id, CAST(sim_name AS BIGINT) AS sim_name,
        |  CAST(sim_brand AS BIGINT) AS sim_brand, CAST(sim_size AS BIGINT) AS sim_size,
        |  CAST(score AS BIGINT) AS score
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
        |                                   ORDER BY score DESC, right_id ASC) AS rk FROM fin)
        |WHERE rk = 1""".stripMargin)),

    // one-to-one entity resolution: the q200 scoring + 8 fixed rounds
    // of locally-dominant matching (parallel greedy == sequential
    // best-first greedy under the total order) — each dirty-catalog
    // record awarded to at most one master record
    Query("q202_er_unique_assign", uses = Seq(erScored), warm = true, run = (s, dir) => erResolve(s, dir, unique = true),
      oracle = erUniqueSql(rounds = 8)),

    // blocking-quality advisor over the q200 catalog: the two
    // production composite keys PLUS the r13 incident key (bare
    // brand) — reduction ratio, per-key candidate volume, pairs
    // completeness against the planted truth, and the quadratic flag
    // that would have caught the 116 s draft before it ran
    Query("q204_blocking_stats", run = (s, dir) => {
      import graft.text.EntityResolution._
      val (l, r) = erCatalog(s, dir)
      val keys = erBlockKeys :+ ((col("l_brand"): org.apache.spark.sql.Column,
        col("r_brand"): org.apache.spark.sql.Column))
      val truth = T(s, dir, "part").select(col("p_partkey").as("left_id"),
        (col("p_partkey") + lit(1000000L)).as("right_id"))
      blockingStats(l, r, "left_id", "right_id", keys, Some(truth))
    },
      // blocking advisor: per-key block rollups joined across sides,
      // exact integer reduction/completeness arithmetic (HUGEINT //)
      oracle = """WITH l AS MATERIALIZED (SELECT p_partkey AS left_id, string_split(p_name, ' ')[1] AS tok,
        |             p_brand AS brand, p_size AS size FROM part),
        |r AS MATERIALIZED (SELECT p_partkey + 1000000 AS right_id,
        |             string_split(regexp_replace(p_name, ' [^ ]+$', ''), ' ')[1] AS tok,
        |             p_brand AS brand, p_size AS size FROM part),
        |n AS (SELECT (SELECT COUNT(*) FROM l) AS nl, (SELECT COUNT(*) FROM r) AS nr),
        |truth AS (SELECT p_partkey AS left_id, p_partkey + 1000000 AS right_id FROM part),
        |nt AS (SELECT COUNT(*) AS tp FROM truth),
        |b0 AS (SELECT COUNT(*) AS n_blocks, COALESCE(SUM(a.c * b.c), 0) AS cand,
        |         COALESCE(MAX(a.c * b.c), 0) AS mx
        |       FROM (SELECT tok, brand, COUNT(*) AS c FROM l
        |             WHERE tok IS NOT NULL AND brand IS NOT NULL GROUP BY 1, 2) a
        |       JOIN (SELECT tok, brand, COUNT(*) AS c FROM r
        |             WHERE tok IS NOT NULL AND brand IS NOT NULL GROUP BY 1, 2) b
        |         USING (tok, brand)),
        |b1 AS (SELECT COUNT(*) AS n_blocks, COALESCE(SUM(a.c * b.c), 0) AS cand,
        |         COALESCE(MAX(a.c * b.c), 0) AS mx
        |       FROM (SELECT brand, size, COUNT(*) AS c FROM l
        |             WHERE brand IS NOT NULL AND size IS NOT NULL GROUP BY 1, 2) a
        |       JOIN (SELECT brand, size, COUNT(*) AS c FROM r
        |             WHERE brand IS NOT NULL AND size IS NOT NULL GROUP BY 1, 2) b
        |         USING (brand, size)),
        |b2 AS (SELECT COUNT(*) AS n_blocks, COALESCE(SUM(a.c * b.c), 0) AS cand,
        |         COALESCE(MAX(a.c * b.c), 0) AS mx
        |       FROM (SELECT brand, COUNT(*) AS c FROM l
        |             WHERE brand IS NOT NULL GROUP BY 1) a
        |       JOIN (SELECT brand, COUNT(*) AS c FROM r
        |             WHERE brand IS NOT NULL GROUP BY 1) b USING (brand)),
        |c0 AS (SELECT COUNT(*) AS cov FROM truth t
        |       WHERE EXISTS (SELECT 1 FROM l JOIN r ON l.tok = r.tok AND l.brand = r.brand
        |                     WHERE l.left_id = t.left_id AND r.right_id = t.right_id)),
        |c1 AS (SELECT COUNT(*) AS cov FROM truth t
        |       WHERE EXISTS (SELECT 1 FROM l JOIN r ON l.brand = r.brand AND l.size = r.size
        |                     WHERE l.left_id = t.left_id AND r.right_id = t.right_id)),
        |c2 AS (SELECT COUNT(*) AS cov FROM truth t
        |       WHERE EXISTS (SELECT 1 FROM l JOIN r ON l.brand = r.brand
        |                     WHERE l.left_id = t.left_id AND r.right_id = t.right_id)),
        |rows AS (
        |  SELECT 0 AS key_idx, b0.n_blocks, b0.cand, b0.mx, c0.cov FROM b0, c0
        |  UNION ALL SELECT 1, b1.n_blocks, b1.cand, b1.mx, c1.cov FROM b1, c1
        |  UNION ALL SELECT 2, b2.n_blocks, b2.cand, b2.mx, c2.cov FROM b2, c2)
        |SELECT CAST(key_idx AS BIGINT) AS key_idx,
        |  CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(cand AS BIGINT) AS cand_pairs,
        |  CAST(mx AS BIGINT) AS max_block_pairs,
        |  CAST(1000 - (1000 * CAST(cand AS HUGEINT)) // (CAST(nl AS HUGEINT) * nr) AS BIGINT)
        |    AS reduction_permille,
        |  CAST(CASE WHEN cand > 16 * (nl + nr) THEN 1 ELSE 0 END AS BIGINT) AS quadratic_flag,
        |  CAST(tp AS BIGINT) AS truth_pairs,
        |  CAST(cov AS BIGINT) AS truth_covered,
        |  CAST((1000 * CAST(cov AS HUGEINT)) // tp AS BIGINT) AS pc_permille
        |FROM rows, n, nt""".stripMargin),

    // DSIR importance scores (hashed-unigram log-likelihood ratio,
    // target = English docs): per-bucket weights rounded once to e6,
    // per-doc score an exact integer sum — the published
    // data-selection estimator, O(nBuckets) model state
    Query("q208_dsir_scores", run = (s, dir) =>
      graft.text.Dsir.importanceScores(T(s, dir, "documents"),
        col("lang") === "en", nBuckets = 1024, seed = 42L),
      // DSIR: hashed buckets via the house md5-52 scheme, Laplace bucket
      // models, per-bucket e6 log-ratio weight, exact integer doc sums
      oracle = """WITH toks AS (SELECT doc_id, t AS w
        |              FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |                   UNNEST(ws) AS u(t) WHERE t != ''),
        |db AS (SELECT doc_id,
        |         ('0x'||substr(md5(w||'|42'),1,13))::UBIGINT % 1024 AS bkt,
        |         COUNT(*) AS c
        |       FROM toks GROUP BY 1, 2),
        |tgtdoc AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |src AS (SELECT bkt, SUM(c) AS sc FROM db GROUP BY 1),
        |tgt AS (SELECT bkt, SUM(c) AS tc FROM db JOIN tgtdoc USING (doc_id) GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(SUM(sc) AS DOUBLE) FROM src) AS s_tot,
        |               (SELECT CAST(COALESCE(SUM(tc), 0) AS DOUBLE) FROM tgt) AS t_tot),
        |w AS (SELECT src.bkt,
        |        CAST(round((ln((COALESCE(tc, 0) + 1.0) / (t_tot + 1024.0))
        |                  - ln((sc + 1.0) / (s_tot + 1024.0))) * 1e6, 0) AS BIGINT) AS w_e6
        |      FROM src LEFT JOIN tgt USING (bkt), tot)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       CAST(SUM(c * w_e6) AS BIGINT) AS score_e6
        |FROM db JOIN w USING (bkt)
        |GROUP BY 1""".stripMargin),

    // WEIGHTED (bag) MinHash-LSH: capped token-count Jaccard via the
    // replication reduction — repetition-sensitive near-dup that set
    // Jaccard (q16) is blind to; same affine family, banding, and
    // exact count-join verification
    Query("q210_weighted_minhash", run = (s, dir) =>
      Dedup.weightedMinhashLsh(s, T(s, dir, "documents"), nBands = 16,
        threshold = 0.2, rowsPerBand = 1, cap = 8),
      oracle = weightedMinhashSql(nBands = 16, rowsPerBand = 1, cap = 8, threshold = "0.2")),

    // CCNet perplexity bucketing (Wenzek 2020): per-language fluency
    // TERCILES of the q144 bigram LM — rank-based (ntile on round-6
    // avg_logp DESC, doc_id), so no float threshold crosses engines
    Query("q215_perplexity_buckets", run = (s, dir) =>
      TextOps.perplexityBuckets(T(s, dir, "documents")),
      // CCNet terciles: the q144 LM chain + per-language NTILE on the
      // round-6 score (rank split — no float threshold crosses engines)
      oracle = """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |toks AS (SELECT doc_id, t.tk FROM d, UNNEST(w) AS t(tk)),
        |bg AS (SELECT doc_id, p[1] AS l, p[2] AS r
        |       FROM (SELECT doc_id, UNNEST(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        |             FROM d WHERE len(w) >= 2)),
        |bgc AS (SELECT l, r, COUNT(*) AS cbg FROM bg GROUP BY 1, 2),
        |lc AS (SELECT l, COUNT(*) AS cl FROM bg GROUP BY 1),
        |vs AS (SELECT CAST(COUNT(DISTINCT tk) AS DOUBLE) AS v FROM toks),
        |lp AS (SELECT doc_id,
        |         ROUND(AVG(ln((CAST(cbg AS DOUBLE) + 1.0) / (CAST(cl AS DOUBLE) + v))), 6) AS avg_logp
        |       FROM bg JOIN bgc USING (l, r) JOIN lc USING (l), vs
        |       GROUP BY doc_id),
        |nt AS (SELECT lp.doc_id, d2.lang, lp.avg_logp,
        |         NTILE(3) OVER (PARTITION BY d2.lang
        |                        ORDER BY lp.avg_logp DESC, lp.doc_id ASC) AS b
        |       FROM lp JOIN (SELECT doc_id, lang FROM documents) d2 USING (doc_id))
        |SELECT doc_id, lang, avg_logp,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM nt""".stripMargin),

    // TF-IDF cosine retrieval (sklearn smooth idf): top-10 docs per
    // fixed keyword query — e3-integer idf makes weights/dots/norms
    // exact integers; one float cosine, ranked on the rounded value
    Query("q217_tfidf_retrieval", run = (s, dir) =>
      graft.text.Keywords.tfidfRetrieve(T(s, dir, "documents"),
        Seq(("q1", "hash join order"), ("q2", "window scan merge"),
          ("q3", "spark stream batch")), k = 10),
      // TF-IDF retrieval: e3-integer idf, exact integer dots/norms, one
      // float cosine in the pinned op order, rank on the rounded value
      oracle = """WITH toks AS (SELECT doc_id, t AS term
        |              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |                   UNNEST(w) AS u(t) WHERE t != ''),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |idf AS (SELECT term,
        |          CAST(round((ln((n + 1.0) / (CAST(COUNT(*) AS DOUBLE) + 1.0)) + 1.0)
        |            * 1000.0, 0) AS BIGINT) AS idf_e3
        |        FROM tf, nn GROUP BY term, n),
        |dv AS (SELECT doc_id, term, tf * idf_e3 AS w FROM tf JOIN idf USING (term)),
        |dn AS (SELECT doc_id, SUM(w*w) AS nd FROM dv GROUP BY 1),
        |q AS (SELECT * FROM (VALUES ('q1', 'hash join order'),
        |        ('q2', 'window scan merge'), ('q3', 'spark stream batch')) AS t(qid, qtext)),
        |qt AS (SELECT qid, t AS term, COUNT(*) AS tfq
        |       FROM q, UNNEST(string_split(lower(qtext), ' ')) u(t)
        |       WHERE t != '' GROUP BY 1, 2),
        |qv AS (SELECT qid, term, tfq * idf_e3 AS wq FROM qt JOIN idf USING (term)),
        |qn AS (SELECT qid, SUM(wq*wq) AS nq FROM qv GROUP BY 1),
        |sc AS (SELECT qid, doc_id, SUM(wq*w) AS num FROM qv JOIN dv USING (term) GROUP BY 1, 2),
        |cs AS (SELECT qid, doc_id,
        |         ROUND(CAST(num AS DOUBLE) /
        |           (sqrt(CAST(nd AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS cosine
        |       FROM sc JOIN dn USING (doc_id) JOIN qn USING (qid))
        |SELECT qid, doc_id, cosine
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY cosine DESC, doc_id ASC) AS rk FROM cs)
        |WHERE rk <= 10""".stripMargin),

    // chi-square class-discriminative vocabulary (Yang & Pedersen):
    // exact integer 2x2 contingencies per (term, lang), one pinned
    // float chi2 rounded to e6, rank-based per-class top-k
    Query("q222_chi2_terms", run = (s, dir) =>
      graft.text.Chi2.topTermsByClass(T(s, dir, "documents"), "lang",
        k = 10, minDf = 5L),
      // chi2 vocabulary: distinct-token contingencies, pinned float
      // chi2 = N(ad-bc)^2 / (T(N-T)C(N-C)), rank on the e6 integer
      oracle = """WITH base AS (SELECT doc_id, lang, text FROM documents
        |        WHERE text IS NOT NULL AND lang IS NOT NULL),
        |toks AS (SELECT DISTINCT doc_id, lang, t.term FROM base,
        |        UNNEST(list_distinct(string_split(lower(text), ' '))) AS t(term)
        |        WHERE t.term <> ''),
        |nn AS (SELECT COUNT(DISTINCT doc_id) AS n_total FROM base),
        |cc AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_cls FROM base GROUP BY 1),
        |tf AS (SELECT term, COUNT(DISTINCT doc_id) AS term_df FROM toks
        |       GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 5),
        |ac AS (SELECT term, lang, COUNT(DISTINCT doc_id) AS n_both FROM toks GROUP BY 1, 2),
        |sc AS (SELECT ac.lang AS cls, ac.term,
        |         CAST(ac.n_both AS BIGINT) AS n_both,
        |         CAST(tf.term_df AS BIGINT) AS term_df,
        |         CAST(ROUND(n_total * (
        |             CAST(CAST(ac.n_both AS HUGEINT)
        |                    * (n_total - tf.term_df - cc.n_cls + ac.n_both)
        |                  - (tf.term_df - ac.n_both) * (cc.n_cls - ac.n_both) AS DOUBLE)
        |           * CAST(CAST(ac.n_both AS HUGEINT)
        |                    * (n_total - tf.term_df - cc.n_cls + ac.n_both)
        |                  - (tf.term_df - ac.n_both) * (cc.n_cls - ac.n_both) AS DOUBLE))
        |           / (CAST(tf.term_df AS DOUBLE) * (n_total - tf.term_df)
        |              * cc.n_cls * (n_total - cc.n_cls)) * 1e6) AS BIGINT) AS chi2_e6
        |       FROM ac JOIN tf USING (term) JOIN cc USING (lang), nn
        |       WHERE tf.term_df < nn.n_total AND cc.n_cls < nn.n_total)
        |SELECT cls, term, n_both, term_df, chi2_e6,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY cls
        |         ORDER BY chi2_e6 DESC, term ASC) AS INT) AS rk
        |FROM sc QUALIFY rk <= 10""".stripMargin)
  )

  /** q96's fixed merge table == Bpe.train(docs_sf0.01, 8) (BpeProbe). */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"))

  /** DuckDB replay of [[graft.text.Dedup.weightedMinhashLsh]]: capped
    * token counts, the t#r replication, then the [[minhashCtes]] affine
    * chain over replicated elements and a Σmin/Σmax count verification. */
  private def weightedMinhashSql(nBands: Int, rowsPerBand: Int, cap: Int,
                                 threshold: String): String = {
    import graft.text.Dedup.{MinhashA, MinhashP}
    val nHash = nBands * rowsPerBand
    val abValues = (0 until nHash).map(j => s"($j, ${MinhashA(j)})").mkString(", ")
    val keyCols = (0 until rowsPerBand)
      .map(r => s"MIN(m) FILTER (WHERE j % $rowsPerBand = $r) AS h${r + 1}")
      .mkString(", ")
    val keyEq = (1 to rowsPerBand).map(r => s"a.h$r = c.h$r").mkString(" AND ")
    s"""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |tok AS (SELECT doc_id, t AS w FROM docs, UNNEST(w) AS u(t) WHERE t != ''),
       |wc AS (SELECT doc_id, w, LEAST(COUNT(*), $cap) AS c FROM tok GROUP BY 1, 2),
       |sh AS (SELECT doc_id, w || '#' || r AS s
       |       FROM wc, UNNEST(generate_series(0, c - 1)) AS t(r)),
       |mh AS (SELECT doc_id, md5(s) AS h FROM sh),
       |xh AS (SELECT doc_id, CAST(SUM((strpos('0123456789abcdef', h[i]) - 1)
       |         * CAST(pow(16, 12 - i) AS BIGINT)) AS BIGINT) AS x
       |       FROM mh, UNNEST(generate_series(1, 12)) AS ti(i) GROUP BY doc_id, h),
       |mins AS (SELECT doc_id, ab.j, MIN((ab.a * x + ab.j) % $MinhashP) AS m
       |         FROM xh CROSS JOIN (VALUES $abValues) AS ab(j, a) GROUP BY 1, 2),
       |sig AS (SELECT doc_id, j // $rowsPerBand AS b, $keyCols FROM mins GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM sig a JOIN sig c ON a.b = c.b AND $keyEq AND a.doc_id < c.doc_id),
       |cnt AS (SELECT doc_id, SUM(c) AS n FROM wc GROUP BY 1),
       |inter AS (SELECT p.doc_a, p.doc_b, SUM(LEAST(x.c, y.c)) AS ni
       |          FROM cand p JOIN wc x ON x.doc_id = p.doc_a
       |          JOIN wc y ON y.doc_id = p.doc_b AND y.w = x.w GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, ROUND(ni * 1.0 / (ca.n + cb.n - ni), 6) AS wjaccard
       |FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
       |WHERE ni * 1.0 / (ca.n + cb.n - ni) >= $threshold""".stripMargin
  }

  private def erResolve(s: org.apache.spark.sql.SparkSession, dir: String,
                        unique: Boolean): DataFrame = {
    import graft.text.EntityResolution._
    if (unique) assignUnique(erScored(s, dir), rounds = 8)
    else bestPerLeft(erScored(s, dir))
  }

  /** Shared q200/q202 oracle scoring: catalog + dirtied copy +
    * blocking joins + field sims, ending at the `scored` CTE. */
  private val erScoringSql: String =
    """WITH l AS MATERIALIZED (SELECT p_partkey AS left_id, p_name AS name, p_brand AS brand, p_size AS size FROM part),
      |r AS MATERIALIZED (SELECT p_partkey + 1000000 AS right_id, regexp_replace(p_name, ' [^ ]+$', '') AS name,
      |             p_brand AS brand, p_size AS size FROM part),
      |cand AS (SELECT DISTINCT left_id, right_id FROM (
      |    SELECT l.left_id, r.right_id FROM l JOIN r
      |      ON string_split(l.name, ' ')[1] = string_split(r.name, ' ')[1]
      |     AND l.brand = r.brand
      |    UNION ALL
      |    SELECT l.left_id, r.right_id FROM l JOIN r
      |      ON l.brand = r.brand AND l.size = r.size)),
      |scored AS (SELECT c.left_id, c.right_id,
      |    CASE WHEN (len(la) + len(lb) - len(list_intersect(la, lb))) > 0
      |         THEN (1000 * len(list_intersect(la, lb)))
      |              // (len(la) + len(lb) - len(list_intersect(la, lb)))
      |         ELSE 0 END AS sim_name,
      |    CASE WHEN l.brand = r.brand THEN 1000 ELSE 0 END AS sim_brand,
      |    greatest(0, 1000 - (1000 * abs(l.size - r.size)) // 5) AS sim_size
      |  FROM cand c JOIN l ON l.left_id = c.left_id JOIN r ON r.right_id = c.right_id,
      |  LATERAL (SELECT list_distinct(list_filter(string_split(lower(l.name), ' '), t -> t != '')) AS la,
      |                  list_distinct(list_filter(string_split(lower(r.name), ' '), t -> t != '')) AS lb))""".stripMargin

  /** q202 oracle: the q200 scoring CTEs + `rounds` UNROLLED rounds of
    * locally-dominant one-to-one matching — fixed round count makes
    * the recurrence SQL-expressible (the fixed-iteration PageRank
    * discipline); both engines run exactly the same rounds. */
  private def erUniqueSql(rounds: Int): String = {
    val scoring = erScoringSql +
      """,
        |c1 AS MATERIALIZED (SELECT left_id, right_id, CAST(3 * sim_name + sim_brand + sim_size AS BIGINT) AS score
        |       FROM scored WHERE 3 * sim_name + sim_brand + sim_size >= 3000)""".stripMargin
    val roundCtes = (1 to rounds).map { i =>
      s"""b$i AS MATERIALIZED (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY score DESC, right_id ASC) AS bl,
         |  ROW_NUMBER() OVER (PARTITION BY right_id ORDER BY score DESC, left_id ASC) AS br
         |  FROM c$i),
         |dom$i AS MATERIALIZED (SELECT left_id, right_id, score FROM b$i WHERE bl = 1 AND br = 1),
         |c${i + 1} AS MATERIALIZED (SELECT c.* FROM c$i c
         |  WHERE NOT EXISTS (SELECT 1 FROM dom$i d WHERE d.left_id = c.left_id)
         |    AND NOT EXISTS (SELECT 1 FROM dom$i d WHERE d.right_id = c.right_id))""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to rounds).map(i => s"SELECT * FROM dom$i").mkString("\nUNION ALL ")
    s"$scoring,\n$roundCtes\n$unionAll"
  }
}
