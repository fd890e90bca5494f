package graft

import graft.etl.{Converters, SparqlSource}
import graft.text.{Dedup, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAndEtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("title normalization is step-exact to movielens.py:81-98 (F2)") {
    val titles = Seq(
      "Saint, The (1997)",
      "Postino, Il (1994)",
      "Haunted World of Edward D. Wood Jr., The (1995)",
      "Jack and Sarah (1995)",
      "Cérémonie, La (1995)",
      "Good, Bad, Ugly (1966)"
    ).toDF("movie_title")
    val out = titles.select(Converters.normalizeTitleExpr("movie_title")).as[String].collect()
    assert(out(0) == "The Saint")
    assert(out(1) == "Il Postino")
    assert(out(2) == "The Haunted World of Edward D. Wood Jr.")
    assert(out(3) == "Jack and Sarah")
    assert(out(4) == "La Cérémonie")
    assert(out(5) == "Ugly Good Bad") // reference rotates last segment first
  }

  test("year extraction (F1, movielens.py:100-105)") {
    val y = Seq("Heat (1995)").toDF("t")
      .select(Converters.extractYear($"t")).first().getInt(0)
    assert(y == 1995)
  }

  test("punctuation strip removes the exact string.punctuation set (F3)") {
    val out = Seq("a.b,c!d?e(f)g").toDF("s")
      .select(TextOps.stripPunctuation($"s")).first().getString(0)
    assert(out == "abcdefg")
  }

  test("langId picks the max-stopword language deterministically") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "der hund ist nicht mit der katze zu hause",
      "le chat est dans la maison et les jardins"
    ).toDF("text")
    val out = df.select(TextOps.langId($"text")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "fr"))
  }

  test("exact dedup keeps min doc_id per distinct text") {
    val docs = Seq((5L, "aaa"), (2L, "aaa"), (3L, "bbb")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((2L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds planted near-duplicates and scores exact Jaccard") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(spark, docs, 8, 3, 0.5).collect()
    assert(pairs.length == 1)
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) == (1L, 2L))
    // 38 shingles each, 35 shared -> J = 35/41
    assert(math.abs(pairs.head.getDouble(2) - 35.0 / 41) < 1e-4)
  }

  test("minhash LSH agrees with brute-force n-gram Jaccard on a high-J corpus") {
    val texts = (0 until 12).map { d =>
      (d.toLong, (1 to 30).map(i =>
        if (d % 3 == 1 && i == 15) s"alt${d / 3}" else s"t${d / 3}w$i").mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    // every true pair here has J >= 27/29 ~ 0.93, far above both
    // parameterizations' S-curve knees, so LSH recall is ~certain and
    // both must equal the exact all-pairs baseline — values included
    // (both verify with the same exact-Jaccard count join)
    val brute = Dedup.ngramJaccard(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    for (rpb <- Seq(1, 2)) {
      val lsh = Dedup.minhashLsh(spark, docs, 8, 3, 0.5, rowsPerBand = rpb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(brute.nonEmpty && lsh.sameElements(brute), s"rowsPerBand=$rpb")
    }
    // cacheShinglesMaxDocs = 0 forces the at-scale path (shingles never
    // cached; verification re-shingles candidate docs) — values identical
    val atScale = Dedup.minhashLsh(spark, docs, 8, 3, 0.5, cacheShinglesMaxDocs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(atScale.sameElements(brute))
  }

  test("simhash: 64-bit strings, identical texts collide, different texts differ") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.values.forall(_.length == 64))
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("simhashNearDup: banded Hamming join finds planted near-dups, never misses within radius") {
    // near-dup pair: 40 shared tokens, one swapped -> tiny Hamming distance;
    // identical pair -> distance 0; unrelated doc -> far
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base)).toDF("doc_id", "text")
    val sig = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    // ground truth from the signatures themselves: every pair within the
    // radius MUST appear (pigeonhole guarantees recall = 1), none beyond
    val maxH = 3
    val expected = (for {
      a <- sig.keys; b <- sig.keys if a < b
      if ham(sig(a), sig(b)) <= maxH
    } yield (a, b, ham(sig(a), sig(b)))).toSet
    val out = Dedup.simhashNearDup(docs, maxH)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    out.unpersist(blocking = false)
    assert(expected.contains((1L, 4L, 0)), "identical docs must be distance 0")
    assert(got == expected)
    assert(!got.exists { case (a, b, _) => Set(a, b) == Set(1L, 3L) })
  }

  test("unigramLogProb scores hand-computed corpus MLE log-probs") {
    // corpus: tokens a:2 b:2 c:1, total 5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 1: mean(ln .4, ln .4, ln .4) = ln .4 ; doc 2: (ln .4 + ln .2)/2
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - math.log(0.4)) < 1e-6)
    assert(out(2L)._1 == 2L)
    assert(math.abs(out(2L)._2 - (math.log(0.4) + math.log(0.2)) / 2) < 1e-6)
  }

  test("bigramLogProb: hand-computed add-one smoothed bigram scores") {
    // corpus: doc1 "a b a b" -> bigrams (a,b)x2 (b,a)x1; doc2 "a b" ->
    // (a,b)x1. totals: c(a,b)=3, c(b,a)=1, left counts a:3 b:1
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // V = 3 (a, b, z — the single-token doc still contributes vocab)
    val ab = math.log((3.0 + 1) / (3 + 3)) // c(a,b)=3, c(a·)=3, V=3
    val ba = math.log((1.0 + 1) / (1 + 3))
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - math.rint((2 * ab + ba) / 3 * 1e6) / 1e6) < 1e-9)
    assert(out(2L)._1 == 1L)
    assert(math.abs(out(2L)._2 - math.rint(ab * 1e6) / 1e6) < 1e-9)
    assert(!out.contains(3L)) // no bigrams -> absent
  }

  test("repetitionStats: hand-worked Gopher repetition signals, short-doc nulls") {
    val docs = Seq(
      (1L, "a b a b a"), // 2-grams: ab,ba,ab,ba -> top 2/4; 3-grams: aba,bab,aba -> dup 1-2/3
      (2L, "x y z"),     // all distinct: dup 0; top 2-gram 1/2
      (3L, "w"),         // too short for any gram
      (4L, "p q")        // one 2-gram, no 3-gram
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(1) == BigDecimal(1.0 - 2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L).getLong(2) == 4L && out(1L).getDouble(3) == 0.5)
    assert(out(2L).getDouble(1) == 0.0 && out(2L).getLong(2) == 2L && out(2L).getDouble(3) == 0.5)
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(3))
    assert(out(4L).isNullAt(1) && out(4L).getLong(2) == 1L && out(4L).getDouble(3) == 1.0)
  }

  test("SPARQL source replays fixtures through the executor-side transport (S4)") {
    val fixture: SparqlSource.Transport = (_, q, _) =>
      s"""{"results":{"bindings":[{"uri":{"value":"http://dbpedia.org/resource/$q"},"label":{"value":"Label $q"}}]}}"""
    val queries = Seq(("1", "Heat", "http://dbpedia.org/resource/Heat"),
      ("2", "Fargo", "http://dbpedia.org/resource/Fargo")).toDF("item_id", "query", "expected")
    val out = SparqlSource.fetchBestUri(spark, queries, "http://fixture", "uri", transport = fixture)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("1" -> "http://dbpedia.org/resource/Heat",
      "2" -> "http://dbpedia.org/resource/Fargo"))
  }

  test("FuzzyMatch components match thefuzz's published values (J7)") {
    import graft.text.FuzzyMatch._
    // canonical fuzzywuzzy README examples
    assert(ratio("this is a test", "this is a test!") == 97)
    assert(partialRatio("this is a test", "this is a test!") == 100)
    assert(tokenSortRatio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 100)
    assert(tokenSetRatio("fuzzy was a bear", "fuzzy fuzzy was a bear") == 100)
    // difflib documented example
    assert(matchingBlocks("abxcd", "abcd") == Seq((0, 0, 2), (3, 2, 2), (5, 4, 0)))
    assert(wratio("New York Mets", "new york mets") == 100) // full_process normalizes
    assert(wratio("", "anything") == 0)
    // token-set subset keeps 100 ×.95 (non-partial family: len ratio < 1.5)
    assert(wratio("this is a test", "this is a new test!!!") == 95)
  }

  test("matchingBlocks reproduces python difflib exactly (incl. autojunk)") {
    // expected values generated with CPython's difflib.SequenceMatcher
    // (seed-7 random strings over 'abcde '); the last case triggers the
    // autojunk rule (|b| >= 200, popular chars leave the index but stay
    // matchable through the junk-extension phase)
    def check(a: String, b: String, exp: Seq[(Int, Int, Int)]): Unit =
      assert(graft.text.FuzzyMatch.matchingBlocks(a, b) == exp, s"a='$a' b='${b.take(40)}'")
    check("bd aaeaceaebaa", "dabaedaeab  eaeed", Seq((0, 2, 1), (1, 5, 1), (4, 6, 3), (8, 12, 3), (14, 17, 0)))
    check("baebc", "beaece baee bcae ", Seq((0, 7, 3), (3, 12, 2), (5, 17, 0)))
    check("eaebd ", "dcdedccbb baecedc dce", Seq((0, 3, 1), (1, 11, 2), (4, 15, 1), (5, 17, 1), (6, 21, 0)))
    check("aedbcb", "da aeecc cededaacd ", Seq((0, 3, 2), (2, 11, 1), (4, 16, 1), (6, 19, 0)))
    check("a  c e", "c d cadcbeadabcb b", Seq((1, 1, 1), (2, 3, 2), (4, 16, 1), (6, 18, 0)))
    check("ddabddecbdec dc ", "bbabbb badebccab", Seq((2, 2, 2), (5, 9, 2), (7, 12, 1), (8, 15, 1), (16, 16, 0)))
    check("eceecb ee   ad ed", "ddad dababdbacea", Seq((12, 2, 3), (15, 14, 1), (17, 16, 0)))
    check("aebeace", "abed", Seq((0, 0, 1), (2, 1, 2), (7, 4, 0)))
    check("the quick brown fox", "x" * 150 + "the quick brown fox" + "y" * 60, Seq((0, 150, 19), (19, 229, 0)))
  }

  test("fuzzy disambiguation ranks by exact WRatio with URI tie-break (J7, movielens.py:127)") {
    val cands = Seq(
      ("1", "Toy Story (1995)", "Toy Story", "uri:toy-story"),
      ("1", "Toy Story (1995)", "Toy Story 2", "uri:toy-story-2"),
      ("1", "Toy Story (1995)", "Story of Toys", "uri:story-of-toys")
    ).toDF("item_id", "expected", "candidate_label", "uri")
    // fallback=false: a WRatioScore codegen failure surfaces as an error
    // instead of silently degrading the projection to interpreted mode
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val top = try SparqlSource.disambiguate(cands).first()
    finally spark.conf.set("spark.sql.codegen.fallback", prev)
    // "Toy Story": len ratio 14/9 ≥ 1.5 → partial family; partial_ratio
    // 100 × 0.9 = 90 beats "Toy Story 2"'s token-set 90 × 0.95 = 86
    assert(top.getString(1) == "uri:toy-story")
    assert(top.getInt(2) == 90)
  }

  test("fuzzy disambiguation picks the best-matching candidate URI (J7)") {
    val cands = Seq(
      ("1", "The Saint", "The Saint (film)", "uri:saint-film"),
      ("1", "The Saint", "Saint Nicholas", "uri:nicholas"),
      ("1", "The Saint", "Saint, The", "uri:saint-rev")
    ).toDF("item_id", "expected", "candidate_label", "uri")
    val top = SparqlSource.disambiguate(cands).first()
    // token-sort pass makes "Saint, The" a perfect match; ties broken by uri
    assert(top.getString(1) == "uri:saint-rev")
  }

  test("firstCsvRow takes the first data row (S5, movielens.py:165-178)") {
    val row = SparqlSource.firstCsvRow("a,b\n1,2\n3,4\n")
    assert(row.contains(Map("a" -> "1", "b" -> "2")))
  }

  test("firstCsvRow reads RFC 4180 quoting: commas, doubled quotes and line breaks in a value (S5)") {
    val body = "\"abstract\",\"producer\",\"director\"\r\n" +
      "\"A film, by X. It was \"\"big\"\"\nin 1995.\",\"P1::P2\",\"\"\r\n" +
      "\"second\",\"row\",\"x\"\r\n"
    val row = SparqlSource.firstCsvRow(body)
    assert(row.contains(Map("abstract" -> "A film, by X. It was \"big\"\nin 1995.",
      "producer" -> "P1::P2", "director" -> "")))
    assert(SparqlSource.firstCsvRow("abstract,producer\n").isEmpty)
  }

  test("group-concat enrichment aggregation (A4)") {
    val triples = Seq(
      ("u1", "director", "Lynch"), ("u1", "director", "Lynch"),
      ("u1", "starring", "MacLachlan"), ("u2", "director", "Nolan")
    ).toDF("uri", "property", "value")
    val out = SparqlSource.groupConcatProperties(triples, Seq("director", "starring"))
      .orderBy("uri").collect()
    assert(out(0).getString(1) == "Lynch") // distinct applied
    assert(out(0).getString(2) == "MacLachlan")
  }

  test("surrogate-key join assigns deterministic dense ids (J3, douban-movie.py:61-70)") {
    val facts = Seq(("MovieB", 5.0), ("MovieA", 3.0), ("MovieB", 4.0)).toDF("Movie_Name_EN", "rating")
    val (dim, joined) = Converters.surrogateKeyJoin(facts, "Movie_Name_EN", "item_id")
    assert(dim.orderBy("item_id").collect().map(_.getString(0)).toSeq == Seq("MovieA", "MovieB"))
    assert(joined.count() == 3)
  }

  test("embedding near-dup LSH path finds planted duplicates with exact cosines") {
    // planted pair (1, 2) nearly parallel; (3) orthogonal-ish noise
    val base = Array(1.0, 0.0, 0.5, 0.25)
    val emb = Seq(
      (1L, base),
      (2L, base.map(_ * 1.001).updated(3, 0.2501)), // near-parallel copy
      (3L, Array(0.0, 1.0, -0.5, 0.1)),
      (4L, Array(-1.0, 0.2, 0.0, 0.9))
    ).toDF("id", "vec")
    val brute = graft.text.Dedup.embeddingNearDup(emb, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = graft.text.Dedup.embeddingNearDupLsh(emb, 0.95, numHashTables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // LSH candidates are approximate, but every emitted pair carries the
    // exact cosine — the planted pair must surface with the brute value
    assert(lsh == brute)
    // the dispatching default stays on the brute path below the threshold
    val auto = graft.text.Dedup.embeddingNearDup(emb, 0.95, bruteMaxRows = 2)
    assert(auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("match-rate report (A5, dataset.py:236-241)") {
    val mapped = Seq(("1", "uri:a"), ("2", null), ("3", "uri:c"), ("4", null))
      .toDF("item_id", "uri")
    val r = SparqlSource.matchRate(mapped).first()
    assert(r.getLong(0) == 4 && r.getLong(1) == 2 && r.getDouble(2) == 50.0)
  }

  test("PII scrub masks emails, IPv4s, phones; counts match; clean text untouched") {
    import graft.text.Pii
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("mail me at a.b+c@sub.example.org now", "mail me at <EMAIL> now", 1, 0, 0),
      ("srv 192.168.0.1 and 10.0.255.254 up", "srv <IP> and <IP> up", 0, 2, 0),
      ("call +1-555-1234-123 or +44 201 5551 212", "call <PHONE> or <PHONE>", 0, 0, 2),
      ("x@y.io from 8.8.8.8 tel +1-555-1234-123", "<EMAIL> from <IP> tel <PHONE>", 1, 1, 1),
      // near-misses stay: no TLD, 5-octet run is still bounded at 4,
      // phone without leading + is not masked
      ("not-an-email@nohost v1.2.3 call 555-123-4567", null, 0, 0, 0),
      ("plain text, no pii at all", "plain text, no pii at all", 0, 0, 0)
    ).toDF("text", "expect", "ne", "ni", "np")
    val out = rows.select(col("expect"), col("ne"), col("ni"), col("np"),
      Pii.scrub(col("text")).as("got"),
      Pii.countEmails(col("text")).as("ge"),
      Pii.countIps(col("text")).as("gi"),
      Pii.countPhones(col("text")).as("gp")).collect()
    out.foreach { r =>
      if (r.getString(0) != null)
        assert(r.getString(4) == r.getString(0), s"scrub: ${r.getString(4)}")
      assert(r.getInt(5) == r.getInt(1) && r.getInt(6) == r.getInt(2)
        && r.getInt(7) == r.getInt(3), s"counts: $r")
    }
    // v1.2.3: only 3 dotted groups -> not an IP (the \b{4-octet} shape)
    val vtext = Seq("v1.2.3 and 1.2.3.4").toDF("text")
      .select(Pii.scrub(col("text"))).head().getString(0)
    assert(vtext == "v1.2.3 and <IP>")
  }
}
